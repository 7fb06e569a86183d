"""Query registry: every operator class from SURVEY.md §2 plus the
extension tier, expressed over the driver testdata tables, each with a
DuckDB oracle (ANSI SQL) for the correctness gate.

Role mapping (FIXTURES.md §8): customer↔employees, nation/region↔
departments, orders/lineitem↔facts, events↔stream, documents/
embeddings↔text & similarity extensions.

Cross-engine determinism rules used throughout (verified empirically,
verified per-query by tools/selfcheck.py):
- money sums/avgs go through DECIMAL (exact, order-independent) and
  cast back to DOUBLE — ``functions.expr.dsum/davg``;
- time math runs on integer epoch-micros (``unix_micros`` ≡ DuckDB
  ``epoch_us``), never float seconds;
- "latest per key" uses row_number over a TOTAL order (ties broken by
  a unique id), never bare max_by;
- outputs avoid ROUND except where the rounded quantity cannot sit on
  an exact decimal midpoint (cosine sims, quality scores);
- hashes are md5 (identical hex in both engines); 60-bit integer
  fingerprints take the first 15 hex chars.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.expr import davg, dsum, sentinel_fk
from ..operators import dedup as D
from ..operators import windows as W
from ..sources.readers import read_parquet_table

AS_OF = "2026-01-01"

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Decorator registering a query builder as ``name``, with its
    DuckDB oracle SQL. The only writer of QUERIES/ORACLE; a name
    registers once."""

    def deco(fn):
        if name in QUERIES:
            raise ValueError(f"query {name!r} is already registered")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return read_parquet_table(spark, sf_dir, name)


# =========================================================================
# A. Reference-parity tier (SURVEY.md §2) on the TPC-H-ish role mapping
# =========================================================================

@query(
    "tpch_q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
           * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))
           * CAST(1 + CAST(l_tax AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '2000-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H-Q1-shaped pricing summary (A1-pattern multi-agg).

    One scan, one partial+final hash aggregate; decimal-exact sums.
    """
    li = t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc1 = (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(5,2)")
    tax1 = (F.lit(1) + F.col("l_tax").cast("decimal(4,2)")).cast("decimal(5,2)")
    return (
        li.filter(F.col("l_shipdate").cast("date") <= "2000-12-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            F.sum(price * disc1).cast("double").alias("sum_disc_price"),
            F.sum(price * disc1 * tax1).cast("double").alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "nation_account_summary",
    oracle="""
    WITH cust AS (
      SELECT c_nationkey, COUNT(*) AS total_customers,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / COUNT(c_acctbal) AS avg_acctbal
      FROM customer GROUP BY c_nationkey
    ), ord AS (
      SELECT c.c_nationkey, COUNT(*) AS open_orders,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS open_order_value
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE o.o_orderstatus = 'O'
      GROUP BY c.c_nationkey
    )
    SELECT n.n_nationkey, n.n_name AS nation_name, r.r_name AS region_name,
           COALESCE(cust.total_customers, 0) AS total_customers,
           COALESCE(cust.avg_acctbal, 0.0) AS avg_acctbal,
           COALESCE(ord.open_orders, 0) AS open_orders,
           COALESCE(ord.open_order_value, 0.0) AS open_order_value
    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
    LEFT JOIN cust ON cust.c_nationkey = n.n_nationkey
    LEFT JOIN ord ON ord.c_nationkey = n.n_nationkey
    """,
)
def nation_account_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Department-summary analogue (A1/A2/J1/J2/C12): per-nation customer
    stats + open-order stats, left-joined onto the broadcast dimension
    with zero null-fill (the 'dept with no employees' path)."""
    nation, region = t(spark, sf_dir, "nation"), t(spark, sf_dir, "region")
    customer, orders = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    cust_stats = customer.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("total_customers"),
        davg("c_acctbal").alias("avg_acctbal"),
    )
    ord_stats = (
        orders.filter(F.col("o_orderstatus") == "O")
        .join(customer.select("c_custkey", "c_nationkey"),
              orders.o_custkey == F.col("c_custkey"))
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("open_orders"),
            dsum("o_totalprice").alias("open_order_value"),
        )
    )
    return (
        nation.join(F.broadcast(region),
                    nation.n_regionkey == region.r_regionkey)
        .join(cust_stats, nation.n_nationkey == cust_stats.c_nationkey, "left")
        .join(ord_stats.withColumnRenamed("c_nationkey", "ok"),
              nation.n_nationkey == F.col("ok"), "left")
        .select(
            "n_nationkey",
            F.col("n_name").alias("nation_name"),
            F.col("r_name").alias("region_name"),
            F.coalesce("total_customers", F.lit(0)).alias("total_customers"),
            F.coalesce("avg_acctbal", F.lit(0.0)).alias("avg_acctbal"),
            F.coalesce("open_orders", F.lit(0)).alias("open_orders"),
            F.coalesce("open_order_value", F.lit(0.0)).alias("open_order_value"),
        )
    )


@query(
    "customer_order_profile",
    oracle="""
    WITH stats AS (
      SELECT o_custkey, COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(o_totalprice) AS avg_order_value
      FROM orders GROUP BY o_custkey
    ), latest AS (
      SELECT o_custkey, o_totalprice AS latest_order_price,
             CAST(o_orderdate AS DATE) AS latest_order_date
      FROM orders
      QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    )
    SELECT c.c_custkey, c.c_name, COALESCE(n.n_name, 'Unknown') AS nation_name,
           c.c_acctbal,
           CASE WHEN c.c_acctbal < 1000 THEN 'Low'
                WHEN c.c_acctbal <= 5000 THEN 'Medium'
                ELSE 'High' END AS acct_bucket,
           COALESCE(s.n_orders, 0) AS n_orders,
           s.avg_order_value,
           l.latest_order_price, l.latest_order_date
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN stats s ON s.o_custkey = c.c_custkey
    LEFT JOIN latest l ON l.o_custkey = c.c_custkey
    """,
)
def customer_order_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Employee-performance analogue (J3/J4/A3/W2/C2/C12): entity dim ⟕
    broadcast name dim ⟕ per-entity fact stats, with bucketing and a
    deterministic latest-row (row_number over a total order — the
    order-free replacement for pandas' sort+'last')."""
    customer = t(spark, sf_dir, "customer")
    nation = t(spark, sf_dir, "nation")
    orders = t(spark, sf_dir, "orders")
    stats = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        davg("o_totalprice").alias("avg_order_value"),
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey")
    )
    latest = (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("lk"),
            F.col("o_totalprice").alias("latest_order_price"),
            F.col("o_orderdate").cast("date").alias("latest_order_date"),
        )
    )
    bucket = (
        F.when(F.col("c_acctbal") < 1000, "Low")
        .when(F.col("c_acctbal") <= 5000, "Medium")
        .otherwise("High")
    )
    return (
        customer.join(F.broadcast(nation),
                      customer.c_nationkey == nation.n_nationkey, "left")
        .join(stats, customer.c_custkey == stats.o_custkey, "left")
        .join(latest, customer.c_custkey == F.col("lk"), "left")
        .select(
            "c_custkey", "c_name",
            F.coalesce("n_name", F.lit("Unknown")).alias("nation_name"),
            "c_acctbal",
            bucket.alias("acct_bucket"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            "avg_order_value",
            "latest_order_price", "latest_order_date",
        )
    )


@query(
    "order_age_derived",
    oracle=f"""
    SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate_d,
           CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '{AS_OF}') AS INT) AS order_age_days,
           COALESCE(o_custkey, -1) AS custkey_filled,
           CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'expedite'
                ELSE 'standard' END AS priority_class
    FROM orders
    """,
)
def order_age_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived-column tier (C1/C5/C8/C9): date parse + datediff from the
    pinned as_of + CASE classification + FK sentinel — all codegen'd
    Column expressions, no UDFs (the reference used row-wise lambdas)."""
    orders = t(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        d.alias("o_orderdate_d"),
        F.datediff(F.lit(AS_OF).cast("date"), d).alias("order_age_days"),
        sentinel_fk("o_custkey").alias("custkey_filled"),
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "expedite")
        .otherwise("standard")
        .alias("priority_class"),
    )


@query(
    "order_fulfillment_workload",
    oracle="""
    WITH w AS (
      SELECT l_orderkey, COUNT(DISTINCT l_suppkey) AS n_suppliers,
             COUNT(DISTINCT l_partkey) AS n_parts,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderkey, o.o_orderstatus,
           COALESCE(w.n_suppliers, 0) AS n_suppliers,
           COALESCE(w.n_parts, 0) AS n_parts,
           COALESCE(w.total_qty, 0.0) AS total_qty,
           w.avg_qty
    FROM orders o LEFT JOIN w ON w.l_orderkey = o.o_orderkey
    """,
)
def order_fulfillment_workload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project-workload analogue (A4/J5): exact distinct counts + sums
    per parent row, left join with null-fill.

    Distinct counts use size(collect_set(...)) — one shuffle, no
    expand. Valid because per-group cardinality is tiny (≤7 lineitems
    per order); for unbounded-cardinality groups use countDistinct
    (expand-based) or approx_count_distinct instead."""
    orders, li = t(spark, sf_dir, "orders"), t(spark, sf_dir, "lineitem")
    w = li.groupBy("l_orderkey").agg(
        F.size(F.collect_set("l_suppkey")).alias("n_suppliers"),
        F.size(F.collect_set("l_partkey")).alias("n_parts"),
        dsum("l_quantity").alias("total_qty"),
        davg("l_quantity").alias("avg_qty"),
    )
    return (
        orders.join(w, orders.o_orderkey == w.l_orderkey, "left")
        .select(
            "o_orderkey", "o_orderstatus",
            # cast: size() is INT, the oracle's COUNT(DISTINCT) is BIGINT
            F.coalesce("n_suppliers", F.lit(0)).cast("long").alias("n_suppliers"),
            F.coalesce("n_parts", F.lit(0)).cast("long").alias("n_parts"),
            F.coalesce("total_qty", F.lit(0.0)).alias("total_qty"),
            "avg_qty",
        )
    )


@query(
    "validation_fused",
    oracle="""
    SELECT 'customer' AS table_name, 'name_complete' AS check_name,
           CAST(SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS violations FROM customer
    UNION ALL
    SELECT 'customer', 'acctbal_complete',
           CAST(SUM(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'customer', 'segment_enum',
           CAST(SUM(CASE WHEN c_mktsegment IS NULL OR c_mktsegment NOT IN
               ('AUTOMOBILE','BUILDING','FURNITURE','MACHINERY','HOUSEHOLD')
               THEN 1 ELSE 0 END) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'customer', 'acctbal_negative',
           CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) FROM customer
    UNION ALL
    SELECT 'orders', 'status_enum',
           CAST(SUM(CASE WHEN o_orderstatus IS NULL OR o_orderstatus NOT IN ('O','F','P')
               THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'orders', 'totalprice_positive',
           CAST(SUM(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) FROM orders
    UNION ALL
    SELECT 'lineitem', 'discount_range',
           CAST(SUM(CASE WHEN l_discount IS NOT NULL AND l_discount NOT BETWEEN 0.0 AND 0.1
               THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'quantity_range',
           CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND l_quantity NOT BETWEEN 1.0 AND 50.0
               THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'quantity_at_cap',
           CAST(SUM(CASE WHEN l_quantity >= 49 THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
    UNION ALL
    SELECT 'orders', 'ri_custkey',
           (SELECT COUNT(*) FROM (
              SELECT DISTINCT o_custkey FROM orders
              WHERE o_custkey <> -1
                AND o_custkey NOT IN (SELECT c_custkey FROM customer))) FROM (SELECT 1)
    UNION ALL
    SELECT 'lineitem', 'ri_orderkey',
           (SELECT COUNT(*) FROM (
              SELECT DISTINCT l_orderkey FROM lineitem
              WHERE l_orderkey <> -1
                AND l_orderkey NOT IN (SELECT o_orderkey FROM orders))) FROM (SELECT 1)
    """,
)
def validation_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality suite (V1-V8) fused: all row-level checks for a
    table in ONE conditional-aggregate pass; referential integrity as
    hash anti-joins. Output: (table_name, check_name, violations)."""
    from ..plans import validation as V

    customer = t(spark, sf_dir, "customer")
    orders = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")

    def fused(df: DataFrame, table: str, checks: list[V.Check]) -> DataFrame:
        aggs = [
            F.sum(F.when(c.violation, 1).otherwise(0)).cast("long").alias(c.name)
            for c in checks
        ]
        one = df.agg(*aggs)
        stacked = one.selectExpr(
            "stack({n}, {args}) as (check_name, violations)".format(
                n=len(checks),
                args=", ".join(f"'{c.name}', {c.name}" for c in checks),
            )
        )
        return stacked.select(
            F.lit(table).alias("table_name"), "check_name", "violations"
        )

    cust_checks = [
        V.Check("name_complete", F.col("c_name").isNull()),
        V.Check("acctbal_complete", F.col("c_acctbal").isNull()),
        V.enum_valid("c_mktsegment",
                     ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]),
        # distribution monitor, not a hard constraint: negative balances
        # EXIST in the fixtures (122 at sf0.01) so the oracle hash
        # verifies a live nonzero count, not just structural zeros
        V.Check("acctbal_negative", F.col("c_acctbal") < 0),
    ]
    cust_checks[2].name = "segment_enum"
    order_checks = [
        V.enum_valid("o_orderstatus", ["O", "F", "P"]),
        V.positive_or_null("o_totalprice"),
    ]
    order_checks[0].name = "status_enum"
    order_checks[1].name = "totalprice_positive"
    li_checks = [
        V.in_range("l_discount", 0.0, 0.1),
        V.in_range("l_quantity", 1.0, 50.0),
        # distribution monitor: order-cap quantities (>= 49) — nonzero
        # on the fixtures, same rationale as acctbal_negative
        V.Check("quantity_at_cap", F.col("l_quantity") >= 49),
    ]
    li_checks[0].name = "discount_range"
    li_checks[1].name = "quantity_range"

    def ri_count(table: str, check: str, child: DataFrame, fk: str,
                 parent: DataFrame, pk: str) -> DataFrame:
        # lazy anti-join count — stays part of the single unioned plan
        # (no eager .count() action per check)
        anti = (
            child.filter(F.col(fk) != -1)
            .select(fk)
            .distinct()
            .join(F.broadcast(parent.select(F.col(pk).alias(fk))), fk, "left_anti")
        )
        return anti.agg(F.count(F.lit(1)).cast("long").alias("violations")).select(
            F.lit(table).alias("table_name"),
            F.lit(check).alias("check_name"),
            "violations",
        )

    return (
        fused(customer, "customer", cust_checks)
        .unionByName(fused(orders, "orders", order_checks))
        .unionByName(fused(li, "lineitem", li_checks))
        .unionByName(ri_count("orders", "ri_custkey", orders, "o_custkey",
                              customer, "c_custkey"))
        .unionByName(ri_count("lineitem", "ri_orderkey", li, "l_orderkey",
                              orders, "o_orderkey"))
    )


@query(
    "top_customers_by_spend",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend,
           COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY total_spend DESC, c.c_custkey ASC
    LIMIT 10
    """,
)
def top_customers_by_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k tier (T1-T4): exact spend ranking; Catalyst compiles
    orderBy+limit to TakeOrderedAndProject (no global sort)."""
    orders, customer = t(spark, sf_dir, "orders"), t(spark, sf_dir, "customer")
    return (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(dsum("o_totalprice").alias("total_spend"),
             F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc_nulls_last("total_spend"), F.asc("c_custkey"))
        .limit(10)
    )


@query("segment_distinct",
       oracle="SELECT DISTINCT c_mktsegment AS segment FROM customer")
def segment_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-row distinct (D1)."""
    return t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment")
    ).distinct()


@query(
    "events_dedup_first",
    oracle="""
    SELECT user_id, event_type, event_id, value FROM events
    QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY ts, event_id) = 1
    """,
)
def events_dedup_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed dedup keep-first (W3/D2 generalized) under a total order."""
    ev = t(spark, sf_dir, "events")
    return D.keyed_dedup_first(
        ev, ["user_id", "event_type"], ["ts", "event_id"]
    ).select("user_id", "event_type", "event_id", "value")


@query(
    "events_latest_broadcast",
    oracle="""
    SELECT event_id, user_id, value,
           LAST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS latest_value
    FROM events
    """,
)
def events_latest_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: latest value per key broadcast onto every row (unbounded
    window, total order)."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id", "user_id", "value",
        F.last("value").over(w).alias("latest_value"),
    )


@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join (J6): the hash-join replacement for the reference's
    quadratic referential scan."""
    customer, orders = t(spark, sf_dir, "customer"), t(spark, sf_dir, "orders")
    return customer.join(
        orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name", "c_nationkey")


@query(
    "custkeys_f_except_o",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def custkeys_f_except_o(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operator tier: EXCEPT (distinct semantics)."""
    orders = t(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(o)


@query(
    "tpch_q3_shipping_topk",
    oracle="""
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS o_orderdate_d
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
      AND CAST(l.l_shipdate AS DATE) > DATE '1998-01-01'
    GROUP BY l.l_orderkey, CAST(o.o_orderdate AS DATE)
    ORDER BY revenue DESC, l.l_orderkey ASC
    LIMIT 10
    """,
)
def tpch_q3_shipping_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q3-shaped: selective dim filter → fact joins → grouped
    revenue → top-k. Customer side broadcasts; lineitem never shuffles
    until the final (small) aggregate."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").cast("date") < "1998-01-01"
    )
    l = t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").cast("date") > "1998-01-01"
    )
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc1 = (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(5,2)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("o_orderdate_d"))
        .agg(F.sum(price * disc1).cast("double").alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate_d")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "tpch_q5_region_volume",
    oracle="""
    SELECT n.n_name AS nation_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
    GROUP BY n.n_name
    """,
)
def tpch_q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped: 6-table join with local-supplier colocation
    predicate; every dimension broadcasts, the fact chain shuffles once
    for the join on orderkey."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= "1996-01-01")
        & (F.col("o_orderdate").cast("date") < "1998-01-01")
    )
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc1 = (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(5,2)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s),
              (s.s_suppkey == l.l_suppkey) & (s.s_nationkey == c.c_nationkey))
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n.n_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(F.sum(price * disc1).cast("double").alias("revenue"))
    )


@query(
    "pivot_status_qty",
    oracle="""
    SELECT l_returnflag,
      CAST(SUM(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_O,
      CAST(SUM(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_status_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: groupBy().pivot() with explicit values (no extra pass to
    discover them — required practice at scale)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")))
        .select(
            "l_returnflag",
            F.col("O").cast("double").alias("qty_O"),
            F.col("F").cast("double").alias("qty_F"),
        )
    )


@query(
    "rollup_lineitem_status",
    oracle="""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregate (rollup) — subtotals + grand total in one
    shuffle (Catalyst expands grouping sets)."""
    li = t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum("l_quantity").alias("total_qty"),
    )


@query(
    "running_spend_by_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate_d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def running_spend_by_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total — window sum over DECIMAL so every prefix is exact
    (order-independent across engines/cluster sizes)."""
    orders = t(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        "o_custkey", "o_orderkey",
        F.col("o_orderdate").cast("date").alias("o_orderdate_d"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w).cast("double").alias("running_spend"),
    )


@query(
    "nation_acctbal_rank",
    oracle="""
    SELECT c_custkey, c_nationkey, c_acctbal,
           CAST(RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS bal_rank,
           CAST(DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS INT) AS bal_dense_rank,
           CAST(ROW_NUMBER() OVER (PARTITION BY c_nationkey
                              ORDER BY c_acctbal DESC, c_custkey) AS INT) AS bal_rn
    FROM customer
    """,
)
def nation_acctbal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window functions: gap-leaving rank, gap-free dense_rank
    (both tie-sharing, so no tiebreak needed — value-determined), and
    total-ordered row_number, side by side so the three tie semantics
    are pinned against each other."""
    customer = t(spark, sf_dir, "customer")
    w_rank = Window.partitionBy("c_nationkey").orderBy(F.desc("c_acctbal"))
    w_rn = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return customer.select(
        "c_custkey", "c_nationkey", "c_acctbal",
        F.rank().over(w_rank).alias("bal_rank"),
        F.dense_rank().over(w_rank).alias("bal_dense_rank"),
        F.row_number().over(w_rn).alias("bal_rn"),
    )


@query(
    "order_gap_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           COALESCE(LAG(o_totalprice) OVER w, 0.0) AS prev_price,
           CAST(DATE_DIFF('day',
             CAST(LAG(o_orderdate) OVER w AS DATE),
             CAST(o_orderdate AS DATE)) AS INT) AS gap_days
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def order_gap_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead/lag tier: previous order value + inter-order gap."""
    orders = t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey", "o_orderkey",
        F.coalesce(F.lag("o_totalprice").over(w), F.lit(0.0)).alias("prev_price"),
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    )


# =========================================================================
# B. Event-time tier (batch semantics; streaming twins in streaming.jobs)
# =========================================================================

@query(
    "events_tumbling_hour",
    oracle="""
    SELECT (epoch_us(ts) // 3600000000) * 3600 AS window_start_sec, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_tumbling_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time windows (batch twin of streaming
    window(ts, '1 hour'))."""
    return W.tumbling_window_agg(
        t(spark, sf_dir, "events"), "ts", 3600, ["event_type"], "value"
    ).select("window_start_sec", "event_type", "n_events", "total_value")


@query(
    "events_sliding_hour",
    oracle="""
    WITH e AS (SELECT *, epoch_us(ts) // 1800000000 AS sb FROM events)
    SELECT (sb - i) * 1800 AS window_start_sec, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM e, UNNEST([0, 1]) AS u(i)
    WHERE (sb - i) >= 0
    GROUP BY 1
    """,
)
def events_sliding_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1h width, 30min slide) via offset explosion —
    no self-join, map-side combine does the heavy lifting."""
    return W.sliding_window_agg(
        t(spark, sf_dir, "events"), "ts", 3600, 1800, None, "value"
    ).select("window_start_sec", "n_events", "total_value")


@query(
    "events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, event_id, value, epoch_us(ts) AS us,
             CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL THEN 1
                  WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000 THEN 1
                  ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx,
           MIN(us) // 1000000 AS session_start_sec,
           MAX(us) // 1000000 AS session_end_sec,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM numbered GROUP BY user_id, session_idx
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (gaps-and-islands, 30-min gap) — the batch twin
    of streaming session_window."""
    return W.sessionize(t(spark, sf_dir, "events"), "ts", "user_id", "event_id",
                        1800, "value").select(
        "user_id", "session_idx", "session_start_sec", "session_end_sec",
        "n_events", "total_value",
    )


@query(
    "events_json_kv",
    oracle="""
    SELECT event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT)) AS DOUBLE)
             / COUNT(*) AS avg_k
    FROM events GROUP BY event_type
    """,
)
def events_json_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: pull an integer out of the JSON-ish
    props payload with a portable regexp (no JSON-extension
    dependency), then aggregate exactly."""
    ev = t(spark, sf_dir, "events")
    k = F.regexp_extract(F.col("props"), '"k": ([0-9]+)', 1).cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(k).cast("double") / F.count(F.lit(1))).alias("avg_k"),
    )


@query(
    "asof_purchase_click",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
      QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
    ), purchases AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id AS purchase_event_id,
           c.event_id AS click_event_id,
           (epoch_us(p.ts) - epoch_us(c.ts)) // 1000000 AS gap_sec
    FROM purchases p
    ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join — an operator Spark lacks natively,
    implemented as the union-tag + carry-forward window algorithm
    (one shuffle, no nested loop). Oracle: DuckDB native ASOF JOIN."""
    ev = t(spark, sf_dir, "events")
    # dedup clicks to one per (user, ts) — keep max event_id — so the
    # as-of tie at equal timestamps is well-defined on both engines
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", "ts", "event_id")
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    joined = W.asof_join(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        right_cols=["event_id", "ts"],
    )
    return joined.select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("asof_event_id").alias("click_event_id"),
        F.expr(
            "(unix_micros(CAST(ts AS TIMESTAMP)) - unix_micros(CAST(asof_ts AS TIMESTAMP))) DIV 1000000"
        ).alias("gap_sec"),
    )


@query(
    "range_clicks_before_purchase",
    oracle="""
    WITH clicks AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         purchases AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
    SELECT p.event_id AS purchase_event_id,
           COUNT(c.event_id) AS n_clicks_prior_hour
    FROM purchases p
    LEFT JOIN clicks c ON c.user_id = p.user_id
      AND epoch_us(c.ts) >= epoch_us(p.ts) - 3600000000
      AND epoch_us(c.ts) <= epoch_us(p.ts)
    GROUP BY p.event_id
    """,
)
def range_clicks_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join — bucketized to an equi-join (each probe
    touches exactly 2 coarse buckets) so Catalyst plans a hash join,
    not BroadcastNestedLoop. Oracle: plain inequality join."""
    ev = t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "event_id")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    out = W.range_join_count(
        purchases, clicks, key="user_id", left_ts="ts", right_ts="ts",
        lookback_sec=3600,
    )
    return out.select(
        F.col("event_id").alias("purchase_event_id"),
        F.col("n_in_range").alias("n_clicks_prior_hour"),
    )


# =========================================================================
# D. TPC-H-pattern breadth tier: canonical OLAP shapes (beyond the
# reference's own surface) proving scan-pushdown, semi/anti joins,
# conditional aggregation, and having-subquery patterns at scale.
# =========================================================================

@query(
    "tpch_q6_revenue_delta",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue_delta,
           COUNT(*) AS n_lines
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
      AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q6-shaped: pure filter + scalar aggregate. The whole
    predicate reaches the parquet scan (PushedFilters on shipdate,
    quantity) — at 100 TB this is the difference between reading a
    year's partitions and reading the table."""
    li = t(spark, sf_dir, "lineitem")
    disc = F.col("l_discount").cast("decimal(4,2)")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= "1996-01-01")
            & (F.col("l_shipdate").cast("date") < "1997-01-01")
            & disc.between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(12,2)") * disc)
            .cast("double")
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q4_priority_count",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-01-01'
      AND CAST(o.o_orderdate AS DATE) < DATE '1997-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND CAST(l.l_shipdate AS DATE) > CAST(o.o_orderdate AS DATE))
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q4-shaped: EXISTS → left-semi join, then count by
    priority. The semi join deduplicates lineitems per order on the
    build side — no distinct pass, no row explosion."""
    o = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate").cast("date") >= "1997-01-01")
        & (F.col("o_orderdate").cast("date") < "1997-07-01")
    )
    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            l,
            (o.o_orderkey == l.l_orderkey)
            & (l.l_shipdate.cast("date") > o.o_orderdate.cast("date")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@query(
    "tpch_q10_returned_topk",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-shaped: returned-revenue per customer, top 20.
    Returnflag filter pushes to the lineitem scan; customer/nation
    broadcast; TakeOrderedAndProject caps the sort at k rows."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = t(spark, sf_dir, "nation")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc1 = (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(5,2)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation_name"))
        .agg(F.sum(price * disc1).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@query(
    "tpch_q12_priority_shipmode",
    oracle="""
    SELECT l.l_linestatus,
      CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
               THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY l.l_linestatus
    """,
)
def tpch_q12_priority_shipmode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q12-shaped: conditional (CASE WHEN) counts after a fact-
    fact join — the canonical 'pivot a flag during aggregation'
    pattern; no second pass over the data."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= "1997-01-01")
        & (F.col("l_shipdate").cast("date") < "1998-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


@query(
    "tpch_q14_promo_share",
    oracle="""
    SELECT
      CAST(100.0 AS DOUBLE)
        * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
              THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                   * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))
              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
        / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
              * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE)
        AS promo_revenue_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1997-02-01'
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q14-shaped: promo revenue share. Part broadcasts; the
    month filter pushes to the fact scan; one aggregate computes both
    the conditional and total sums."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= "1997-01-01")
        & (F.col("l_shipdate").cast("date") < "1997-02-01")
    )
    p = t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(5,2)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(rev).cast("double")
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    SELECT c.c_custkey, o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_orderdate_d,
           o.o_totalprice,
           CAST(agg.sum_qty AS DOUBLE) AS sum_qty
    FROM orders o
    JOIN (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150) agg
      ON agg.l_orderkey = o.o_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 100
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q18-shaped: HAVING subquery — aggregate lineitem first
    (map-side partial sums shrink the shuffle), filter groups, then
    join the surviving keys back to orders/customer."""
    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer").select("c_custkey")
    agg = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("sum_qty_dec"))
        .filter(F.col("sum_qty_dec") > 150)
    )
    return (
        o.join(agg, o.o_orderkey == agg.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate_d"),
            "o_totalprice",
            F.col("sum_qty_dec").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "union_all_key_spine",
    oracle="""
    SELECT custkey, src, COUNT(*) AS n
    FROM (
      SELECT o_custkey AS custkey, 'orders' AS src FROM orders WHERE o_custkey IS NOT NULL
      UNION ALL
      SELECT c_custkey AS custkey, 'customer' AS src FROM customer
    ) GROUP BY custkey, src
    """,
)
def union_all_key_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two key sources with provenance tag, then count —
    the 'key spine' pattern for building a universe of ids across
    tables. Union is a zero-shuffle concatenation; only the final
    groupBy shuffles."""
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .select(F.col("o_custkey").alias("custkey"), F.lit("orders").alias("src"))
    )
    c = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), F.lit("customer").alias("src")
    )
    return o.unionAll(c).groupBy("custkey", "src").agg(
        F.count(F.lit(1)).alias("n")
    )


@query(
    "ntile_acctbal_quartiles",
    oracle="""
    SELECT c_custkey, c_nationkey,
           CAST(NTILE(4) OVER (PARTITION BY c_nationkey
                ORDER BY c_acctbal DESC, c_custkey) AS INT) AS bal_quartile
    FROM customer
    """,
)
def ntile_acctbal_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing per nation under a TOTAL order (acctbal desc,
    custkey) — deterministic quartile assignment cross-engine."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey")
    )
    return c.select(
        "c_custkey", "c_nationkey", F.ntile(4).over(w).alias("bal_quartile")
    )


@query(
    "grouping_sets_qty",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not cube/rollup) + grouping_id — one
    shuffle computes all three aggregation shapes; gid disambiguates
    null-as-subtotal from null-as-value."""
    li = t(spark, sf_dir, "lineitem")
    gid = (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus")).cast(
        "long"
    )
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).alias("n_rows"),
            dsum("l_quantity", 2).alias("total_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "total_qty")
    )


@query(
    "events_value_ohlc",
    oracle="""
    WITH e AS (
      SELECT user_id, (epoch_us(ts) // 3600000000) * 3600 AS hour_sec,
             value, epoch_us(ts) AS us, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT user_id, hour_sec,
           CAST(MAX(CASE WHEN rn_a = 1 THEN value END) AS DOUBLE) AS open_value,
           CAST(MAX(CASE WHEN rn_d = 1 THEN value END) AS DOUBLE) AS close_value,
           CAST(MIN(value) AS DOUBLE) AS low_value,
           CAST(MAX(value) AS DOUBLE) AS high_value,
           COUNT(*) AS n_events
    FROM e GROUP BY user_id, hour_sec
    """,
)
def events_value_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC-style rollup per (user, hour): first/last under a total
    event-time order plus min/max — the time-series candlestick
    pattern. min_by/max_by on a (ts, event_id) struct gives the
    order-free single-pass form (no pre-sort, no second window pass
    over the fact table)."""
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "value",
        us.alias("us"),
        (F.floor(us / 3600000000).cast("long") * 3600).alias("hour_sec"),
    )
    ordkey = F.struct(F.col("us"), F.col("event_id"))
    return ev.groupBy("user_id", "hour_sec").agg(
        F.min_by("value", ordkey).cast("double").alias("open_value"),
        F.max_by("value", ordkey).cast("double").alias("close_value"),
        F.min("value").cast("double").alias("low_value"),
        F.max("value").cast("double").alias("high_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "lineitem_qty_price_corr",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sxy,
        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
             * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
        CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS syy
      FROM lineitem
    )
    SELECT n,
      ROUND((n * sxy - sx * sy)
        / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 12)
        AS qty_price_corr
    FROM s
    """,
)
def lineitem_qty_price_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from decimal-exact moment sums + double
    arithmetic — unlike F.corr (float accumulation, order-dependent),
    this is reproducible across partitionings and engines. The final
    statistic is rounded to 12 decimals: once a moment sum exceeds
    2^53 decimal quanta (syy does at sf≥0.1), the decimal→double CAST
    itself rounds, and Java's correctly-rounded conversion can differ
    from DuckDB's by 1 ulp — the rounding absorbs that last-ulp
    engine difference while keeping 9+ significant digits."""
    li = t(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    s = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty).cast("double").alias("sx"),
        F.sum(price).cast("double").alias("sy"),
        F.sum(qty * price).cast("double").alias("sxy"),
        F.sum(qty * qty).cast("double").alias("sxx"),
        F.sum(price * price).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return s.select(
        "n",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            12,
        ).alias("qty_price_corr"),
    )


# approx_percentile is sketch-based (t-digest-like): results are
# engine-specific by design → rows-only check; the exact
# median_price_by_status query is the oracle-checked twin.
@query(
    "approx_quantile_price",
    oracle="""
    WITH ranked AS (
      SELECT o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                ORDER BY o_totalprice) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderstatus) AS n
      FROM orders
    )
    SELECT o_orderstatus,
           MAX(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT)
                    THEN o_totalprice END) AS p50_exact,
           MAX(CASE WHEN rn = CAST(ceil(0.95 * n) AS BIGINT)
                    THEN o_totalprice END) AS p95_exact,
           TRUE AS p50_in_bounds,
           TRUE AS p95_in_bounds
    FROM ranked GROUP BY o_orderstatus
    """,
)
def approx_quantile_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounds-style oracle for ``approx_percentile`` (KLL-ish sketch):
    the output carries the EXACT rank-based quantiles (value at 1-based
    rank ``ceil(p*n)`` — an actual data value, so DuckDB reproduces it
    bit-for-bit with the same window expression) plus booleans
    asserting the sketch value lands within the documented rank-error
    envelope (±n/accuracy ranks, widened by 1 rank for boundary
    conventions). DuckDB verifies the exact quantiles and expects the
    bounds checks to be TRUE — a hash mismatch means either the exact
    values diverged or the sketch violated its error contract.

    Scale shape (r4): the exact ranks come from the global ranking
    primitive on the COMPOSITE order (status, price, orderkey) with
    3-row per-group offsets — PARTITION BY a 3-value status column
    would put a third of the fact on one task each (the
    few-huge-groups trap). The rank values are unchanged: ranking is
    by price within status, and the value AT a rank is well-defined
    under ties regardless of tiebreak. The sketch side is a hash
    AGGREGATE (map-side partials), never a window."""
    acc = 10_000
    eps = 1.0 / acc
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    from ..operators import ranking as R

    rdf, _nt = R.ranked(
        o,
        [F.asc("o_orderstatus"), F.asc("o_totalprice"), F.asc("o_orderkey")],
        rn_col="_rn",
    )
    rdf = rdf.localCheckpoint(eager=False)  # feeds group stats + rank picks
    g = rdf.groupBy("o_orderstatus").agg(
        F.min("_rn").alias("_rn0"), F.count(F.lit(1)).alias("n")
    )
    ranked = rdf.join(F.broadcast(g), "o_orderstatus").withColumn(
        "rn", F.col("_rn") - F.col("_rn0") + 1
    )

    def pick(rank_expr):
        return F.max(F.when(F.col("rn") == rank_expr, F.col("o_totalprice")))

    def rk(p):
        return F.ceil(F.lit(p) * F.col("n"))

    def rk_lo(p):
        return F.greatest(
            F.lit(1).cast("long"),
            F.floor((F.lit(p) - F.lit(eps)) * F.col("n")) - 1,
        )

    def rk_hi(p):
        return F.least(
            F.col("n").cast("long"),
            F.ceil((F.lit(p) + F.lit(eps)) * F.col("n")) + 1,
        )

    exact = ranked.groupBy("o_orderstatus").agg(
        pick(rk(0.5)).alias("p50_exact"),
        pick(rk(0.95)).alias("p95_exact"),
        pick(rk_lo(0.5)).alias("_p50_lo"),
        pick(rk_hi(0.5)).alias("_p50_hi"),
        pick(rk_lo(0.95)).alias("_p95_lo"),
        pick(rk_hi(0.95)).alias("_p95_hi"),
    )
    approx = (
        o.groupBy("o_orderstatus")
        .agg(
            F.approx_percentile(
                "o_totalprice", F.array(F.lit(0.5), F.lit(0.95)), acc
            ).alias("pp")
        )
        .select(
            "o_orderstatus",
            F.col("pp")[0].alias("_a50"),
            F.col("pp")[1].alias("_a95"),
        )
    )
    return exact.join(F.broadcast(approx), "o_orderstatus").select(
        "o_orderstatus",
        "p50_exact",
        "p95_exact",
        F.col("_a50").between(F.col("_p50_lo"), F.col("_p50_hi")).alias("p50_in_bounds"),
        F.col("_a95").between(F.col("_p95_lo"), F.col("_p95_hi")).alias("p95_in_bounds"),
    )


@query(
    "salted_spend_by_status",
    oracle="""
    SELECT o_orderstatus,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_o_totalprice,
           COUNT(*) AS n_rows
    FROM orders GROUP BY o_orderstatus
    """,
)
def salted_spend_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase (salted) grouped sum, oracle-checked against
    a plain GROUP BY: o_orderstatus has only 3 values — exactly the
    hot-key shape where one reducer would take ~all rows. Decimal
    partials make the salted result bit-equal to the direct aggregate
    regardless of how rand() spread the rows."""
    from ..operators.partitioning import salted_groupby_sum

    return salted_groupby_sum(
        t(spark, sf_dir, "orders"), "o_orderstatus", "o_totalprice",
        salt_buckets=16,
    )


@query(
    "salted_join_priority_dim",
    oracle="""
    WITH dim AS (
      SELECT DISTINCT o_orderpriority,
             CAST(substr(o_orderpriority, 1, 1) AS INT) AS priority_rank
      FROM orders
    )
    SELECT o.o_orderkey, o.o_orderpriority, d.priority_rank
    FROM orders o JOIN dim d USING (o_orderpriority)
    """,
)
def salted_join_priority_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted join, oracle-checked against the plain join:
    o_orderpriority has 5 values (extreme key skew — each key is ~20%
    of the fact side), the shape where a plain shuffle join puts a
    fifth of the table on one reducer. ``salted_join`` spreads each
    hot key over the salt buckets; the result set is identical."""
    from ..operators.partitioning import salted_join

    orders = t(spark, sf_dir, "orders")
    dim = orders.select("o_orderpriority").distinct().withColumn(
        "priority_rank", F.substring("o_orderpriority", 1, 1).cast("int")
    )
    return salted_join(
        orders.select("o_orderkey", "o_orderpriority"), dim,
        "o_orderpriority", salt_buckets=8,
    ).select("o_orderkey", "o_orderpriority", "priority_rank")


@query(
    "acctbal_rank_profile",
    oracle="""
    SELECT c_custkey,
           PERCENT_RANK() OVER w AS bal_pct_rank,
           CUME_DIST() OVER w AS bal_cume_dist,
           CAST(NTILE(10) OVER w AS INT) AS bal_decile
    FROM customer
    WINDOW w AS (ORDER BY c_acctbal, c_custkey)
    """,
)
def acctbal_rank_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-profile ranks (percent_rank / cume_dist / ntile)
    over one global total order — EXACT, but with no single-partition
    sort: the global row_number comes from the range-partitioned
    two-pass primitive (operators/ranking.py), and percent_rank /
    cume_dist / ntile are closed-form expressions of (rn, n) under a
    total order (ties impossible by the unique-custkey tiebreak), so
    they stay bit-identical to the SQL window forms the oracle runs."""
    from ..operators import ranking as R

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    rdf, n = R.ranked(
        c, [F.asc("c_acctbal"), F.asc("c_custkey")], rn_col="_rn"
    )
    rn = F.col("_rn")
    return rdf.select(
        "c_custkey",
        R.percent_rank_from_rn(rn, n).alias("bal_pct_rank"),
        R.cume_dist_from_rn(rn, n).alias("bal_cume_dist"),
        R.ntile_from_rn(rn, n, 10).alias("bal_decile"),
    )


@query(
    "cheapest_supplier_per_part",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             MIN(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE))
               AS unit_price
      FROM lineitem WHERE l_quantity > 0
      GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, MIN(unit_price) AS best_price FROM offers GROUP BY l_partkey
    )
    SELECT o.l_partkey AS p_partkey,
           MIN(o.l_suppkey) AS best_suppkey,
           CAST(b.best_price AS DOUBLE) AS best_unit_price
    FROM offers o JOIN best b
      ON b.l_partkey = o.l_partkey AND o.unit_price = b.best_price
    GROUP BY o.l_partkey, b.best_price
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2 pattern: correlated 'supplier with the minimum price
    per part' decorrelated into aggregate + join-back (min-id
    tie-break). Unit prices are IEEE doubles computed identically on
    both engines, so the min and the join-back equality are safe."""
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    # IEEE double division of identical operands is bit-identical in
    # Spark and DuckDB; decimal division is NOT (engine-specific result
    # scale), so double is the cross-engine-exact choice here.
    unit = F.col("l_extendedprice").cast("double") / F.col("l_quantity").cast("double")
    offers = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(unit).alias("unit_price")
    )
    best = (
        offers.groupBy("l_partkey")
        .agg(F.min("unit_price").alias("best_price"))
        .withColumnRenamed("l_partkey", "b_partkey")
    )
    return (
        offers.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_price") == F.col("best_price")),
        )
        .groupBy(F.col("l_partkey").alias("p_partkey"), "best_price")
        .agg(F.min("l_suppkey").alias("best_suppkey"))
        .select(
            "p_partkey",
            "best_suppkey",
            F.col("best_price").cast("double").alias("best_unit_price"),
        )
    )


@query(
    "parts_above_global_share",
    oracle="""
    WITH per_part AS (
      SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS part_qty
      FROM lineitem GROUP BY l_partkey
    ), total AS (
      SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) AS all_qty FROM lineitem
    )
    SELECT l_partkey, CAST(part_qty AS DOUBLE) AS part_qty
    FROM per_part, total
    WHERE part_qty > all_qty * 0.0005
    """,
)
def parts_above_global_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11 pattern: groups whose aggregate exceeds a fraction of
    the GLOBAL aggregate — the scalar subquery becomes a broadcast
    cross-join of a 1-row total; both sums share one scan via
    re-aggregation of the per-part partials."""
    li = t(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("part_qty")
    )
    total = per_part.agg(F.sum("part_qty").alias("all_qty"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_qty") > F.col("all_qty") * 0.0005)
        .select("l_partkey", F.col("part_qty").cast("double").alias("part_qty"))
    )


@query(
    "customer_order_count_histogram",
    oracle="""
    WITH counts AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT n_orders, COUNT(*) AS n_customers
    FROM counts GROUP BY n_orders
    """,
)
def customer_order_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 pattern: two-level aggregation — per-customer order
    counts (left join keeps zero-order customers), then the
    distribution of those counts. COUNT(col) ignores the nulls the
    left join introduces, so zero-order customers land in bucket 0."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    counts = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return counts.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


@query(
    "top_revenue_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS total_rev
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_rev
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15 pattern: argmax over an aggregated view — the scalar
    MAX subquery becomes a broadcast 1-row join; exact decimal revenue
    makes the equality join safe (no float-compare hazard)."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= "1997-01-01")
        & (F.col("l_shipdate").cast("date") < "1997-04-01")
    )
    s = t(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            F.col("l_extendedprice").cast("decimal(12,2)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast("decimal(5,2)")
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), s.s_suppkey == rev.l_suppkey)
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_rev")
        )
    )


@query(
    "rolling_7d_spend",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY epoch(CAST(o_orderdate AS TIMESTAMP))
             RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS spend_7d
    FROM orders WHERE o_custkey IS NOT NULL
    """,
)
def rolling_7d_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed rolling aggregate: per-customer 7-day trailing
    spend ordered by event time in epoch seconds. RANGE (value-based)
    frames differ from ROWS frames on duplicate timestamps — all
    same-instant orders enter the frame together, which is the correct
    time-series semantics; decimal partials keep the window sum exact."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    sec = F.unix_timestamp(F.col("o_orderdate").cast("timestamp"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(sec)
        .rangeBetween(-604800, 0)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("spend_7d"),
    )


@query(
    "idle_rich_customers",
    oracle="""
    WITH avg_bal AS (SELECT AVG(CAST(c_acctbal AS DECIMAL(12,2))) AS a FROM customer
                     WHERE c_acctbal > 0)
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c, avg_bal
    WHERE c.c_acctbal > avg_bal.a
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND CAST(o.o_orderdate AS DATE) >= DATE '1999-01-01')
    """,
)
def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 pattern: above-global-average balance AND no recent
    orders — a scalar-average subquery (broadcast 1-row) composed with
    an anti-join on a filtered fact (the date filter pushes into the
    anti-join's build side). The exact decimal average makes the >
    comparison engine-stable even for balances equal to the mean."""
    c = t(spark, sf_dir, "customer")
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").cast("date") >= "1999-01-01")
        .select("o_custkey")
    )
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg(F.col("c_acctbal").cast("decimal(12,2)")).alias("a")
    )
    return (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_acctbal")
    )


@query(
    "events_multi_rollup",
    oracle="""
    WITH e AS (
      SELECT event_type,
             (epoch_us(ts) // 3600000000) * 3600 AS hour_sec,
             ((epoch_us(ts) // 3600000000) // 24) * 86400 AS day_sec,
             value
      FROM events
    )
    SELECT event_type, hour_sec, day_sec,
           CAST(GROUPING(hour_sec) + GROUPING(day_sec) * 2 AS BIGINT) AS gid,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM e
    GROUP BY GROUPING SETS ((event_type, hour_sec), (event_type, day_sec), (event_type))
    """,
)
def events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: hourly, daily, and
    all-time totals per event type in ONE grouping-sets pass — the
    batch form of maintaining multiple materialized rollup levels.
    Bucket ids are integer epoch-second arithmetic (hour buckets nest
    exactly into day buckets), decimal-exact sums at every level."""
    hour = F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000") * 3600
    day = (F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000") / 24).cast(
        "long"
    ) * 86400
    ev = t(spark, sf_dir, "events").select(
        "event_type",
        hour.alias("hour_sec"),
        day.alias("day_sec"),
        "value",
    )
    gid = (F.grouping("hour_sec") + F.grouping("day_sec") * 2).cast("long")
    return (
        ev.groupingSets(
            [["event_type", "hour_sec"], ["event_type", "day_sec"], ["event_type"]],
            "event_type",
            "hour_sec",
            "day_sec",
        )
        .agg(
            gid.alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select("event_type", "hour_sec", "day_sec", "gid", "n_events", "total_value")
    )


@query(
    "top_users_per_hour",
    oracle="""
    WITH per_user AS (
      SELECT (epoch_us(ts) // 3600000000) * 3600 AS hour_sec, user_id,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events GROUP BY 1, 2
    )
    SELECT hour_sec, user_id, total_value,
           CAST(rnk AS INT) AS rnk
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY hour_sec
                 ORDER BY total_value DESC, user_id) AS rnk
      FROM per_user
    ) WHERE rnk <= 3
    """,
)
def top_users_per_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-k per group: top-3 users by spend within each
    hour. Aggregate first (shrinks the window input to one row per
    (hour, user)), then rank per hour under a total order and filter
    rn <= k — the scalable form; a global sort or per-group collect
    would not survive 100x. Decimal-exact sums make the rank order
    engine-stable."""
    ev = t(spark, sf_dir, "events")
    per_user = (
        ev.groupBy(
            (F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 3600000000") * 3600).alias(
                "hour_sec"
            ),
            "user_id",
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"))
    )
    w = Window.partitionBy("hour_sec").orderBy(
        F.desc("total_value"), F.asc("user_id")
    )
    return (
        per_user.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("hour_sec", "user_id", "total_value", "rnk")
    )


@query(
    "tpch_q7_nation_volume",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM CAST(l.l_shipdate AS DATE)) AS INT) AS ship_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_name <> n2.n_name
      AND CAST(l.l_shipdate AS DATE) >= DATE '1996-01-01'
      AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, 3
    """,
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7 pattern: cross-nation trade volume by year. The nation
    dimension joins twice under different roles (supplier vs customer
    side) — both broadcast; the inequality n1<>n2 is a post-join filter
    on broadcast columns, costing nothing extra."""
    l = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= "1996-01-01")
        & (F.col("l_shipdate").cast("date") < "1998-01-01")
    )
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(5,2)")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), s.s_suppkey == l.l_suppkey)
        .join(F.broadcast(n1), F.col("n1_key") == s.s_nationkey)
        .join(F.broadcast(n2), F.col("n2_key") == c.c_nationkey)
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate").cast("date")).alias("ship_year"),
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle="""
    WITH flows AS (
      SELECT CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2)) AS volume,
             n1.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n2.n_regionkey
      WHERE r.r_name = 'ASIA'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'CHINA' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM flows GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q8 pattern: one nation's share of a region's purchase
    volume per year — conditional share inside a single aggregate
    (no second pass, no self-join); the share division runs in IEEE
    double over decimal-exact numerator/denominator."""
    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n1 = t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    volume = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(5,2)")
    china = F.when(F.col("supp_nation") == "CHINA", volume).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), s.s_suppkey == l.l_suppkey)
        .join(F.broadcast(n1), F.col("n1_key") == s.s_nationkey)
        .join(F.broadcast(n2), n2.n_nationkey == c.c_nationkey)
        .join(F.broadcast(r), r.r_regionkey == n2.n_regionkey)
        .groupBy(F.year(F.col("o_orderdate").cast("date")).alias("o_year"))
        .agg(
            (F.sum(china).cast("double") / F.sum(volume).cast("double")).alias(
                "mkt_share"
            )
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle="""
    SELECT n.n_name AS nation_name,
           CAST(EXTRACT(year FROM CAST(o.o_orderdate AS DATE)) AS INT) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%green%' OR p.p_type = 'PROMO'
    GROUP BY n.n_name, 2
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q9 pattern: profit by supplier nation and year for a
    part subset selected by LIKE/equality — the part filter applies on
    the broadcast side BEFORE the join, shrinking the probe instead of
    filtering after."""
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%green%") | (F.col("p_type") == "PROMO"))
        .select("p_partkey")
    )
    l = t(spark, sf_dir, "lineitem")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation_name"))
    profit = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(5,2)")
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), s.s_suppkey == l.l_suppkey)
        .join(F.broadcast(n), n.n_nationkey == s.s_nationkey)
        .groupBy(
            "nation_name", F.year(F.col("o_orderdate").cast("date")).alias("o_year")
        )
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


@query(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    WITH avg_qty AS (
      SELECT l_partkey, 0.5 * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                              / COUNT(l_quantity) AS half_avg
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN avg_qty a ON a.l_partkey = l.l_partkey
    WHERE l.l_quantity < a.half_avg
    """,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q17 pattern: rows below half their group's average — the
    correlated per-part AVG subquery decorrelated into one aggregate
    joined back to the fact on the same key (partial sums shrink the
    build side to one row per part). davg-style exact mean keeps the
    < comparison engine-stable."""
    li = t(spark, sf_dir, "lineitem")
    avg_qty = li.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (
            F.lit(0.5)
            * F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double")
            / F.count("l_quantity")
        ).alias("half_avg")
    )
    return (
        li.join(avg_qty, li.l_partkey == avg_qty.a_partkey)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(12,2)")).cast("double") / 7.0)
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q19_disjunctive_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
               * CAST(1 - CAST(l.l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25 AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 35 AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q19 pattern: OR-of-ANDs spanning both join sides.
    Catalyst derives the single-side implications (brand IN (...) on
    part, quantity range on lineitem) and pushes them below the join;
    the full disjunction applies after — the classic disjunctive
    predicate-pushdown test."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    rev = F.col("l_extendedprice").cast("decimal(12,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    ).cast("decimal(5,2)")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#15") & F.col("p_size").between(1, 35)
           & F.col("l_quantity").between(20, 30))
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q16_supplier_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 2000)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q16 pattern: distinct-count of suppliers per part class
    with a NOT-IN blacklist subquery. The supply association is the
    distinct (l_partkey, l_suppkey) projection of the fact (this corpus
    has no partsupp table). NOT IN over a non-nullable key is exactly a
    left-anti hash join; the part-class filter and the blacklist are
    both broadcast, so the only shuffle is the final 3-key aggregate.
    Reference analogue: the distinct-key validation scans
    (validation.py:37-38) composed with grouped counts."""
    ps = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = (
        t(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#5")
            & F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blacklist = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 2000)
        .select("s_suppkey")
    )
    return (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(blacklist), ps.l_suppkey == blacklist.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q20_promo_bulk_suppliers",
    oracle="""
    SELECT s_suppkey, s_name, CAST(s_acctbal AS DOUBLE) AS acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem
      WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')
        AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
      GROUP BY l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 800
    )
    """,
)
def tpch_q20_promo_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q20 pattern: nested IN subqueries with a correlated
    aggregate threshold — suppliers who moved > 800 units of PROMO
    parts in the window. Decorrelated Spark plan: broadcast-semi-join
    the promo part keys into the date-pruned fact scan, aggregate
    quantity per supplier (partial agg shrinks the shuffle to one row
    per supplier), HAVING-filter, then left-semi back into supplier.
    Both reduction joins are broadcasts; the shipdate+type predicates
    reach the scan."""
    promo = (
        t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    )
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= "1996-01-01")
        & (F.col("l_shipdate").cast("date") < "1998-01-01")
    )
    bulk = (
        li.join(F.broadcast(promo), li.l_partkey == promo.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("promo_qty"))
        .filter(F.col("promo_qty") > 800)
        .select("l_suppkey")
    )
    s = t(spark, sf_dir, "supplier")
    return s.join(
        F.broadcast(bulk), s.s_suppkey == bulk.l_suppkey, "left_semi"
    ).select(
        "s_suppkey", "s_name", F.col("s_acctbal").cast("double").alias("acctbal")
    )


@query(
    "tpch_q21_sole_returning_supplier",
    oracle="""
    SELECT s.s_suppkey, s.s_name, COUNT(*) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_suppkey, s.s_name
    """,
)
def tpch_q21_sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q21 pattern: the double correlated EXISTS / NOT-EXISTS
    self-join ("supplier who kept the order waiting", here: the only
    supplier with returned lines on a multi-supplier finished order).
    The oracle states it with literal correlated subqueries; the Spark
    plan decorrelates both into ONE per-order aggregate —
    EXISTS(other supplier)  ⟺  count(distinct suppkey) ≥ 2,
    NOT EXISTS(other 'R' supplier) ⟺ count(distinct suppkey | flag=R) = 1
    — so the fact is scanned twice (once for l1 rows, once for the
    order profile) instead of three correlated probes, and everything
    meets on the already-shuffled l_orderkey."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    ord_stats = (
        li.groupBy("l_orderkey")
        .agg(
            F.countDistinct("l_suppkey").alias("nsupp"),
            F.countDistinct(
                F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
            ).alias("nsupp_r"),
        )
        .filter((F.col("nsupp") >= 2) & (F.col("nsupp_r") == 1))
        .select("l_orderkey")
    )
    fin = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        li.filter(F.col("l_returnflag") == "R")
        .join(fin, li.l_orderkey == fin.o_orderkey, "left_semi")
        .join(ord_stats, "l_orderkey", "left_semi")
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    eu AS (
      SELECT s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
    ),
    cand AS (
      SELECT p.p_partkey, p.p_type, eu.s_name, eu.s_acctbal, eu.n_name,
             ps.supplycost
      FROM ps
      JOIN part p ON p.p_partkey = ps.l_partkey AND p.p_size = 15
      JOIN eu ON eu.s_suppkey = ps.l_suppkey
    ),
    mn AS (SELECT p_partkey, MIN(supplycost) AS min_cost
           FROM cand GROUP BY p_partkey)
    SELECT c.s_acctbal, c.s_name, c.n_name, c.p_partkey, c.p_type,
           c.supplycost
    FROM cand c
    JOIN mn ON mn.p_partkey = c.p_partkey AND c.supplycost = mn.min_cost
    ORDER BY c.s_acctbal DESC, c.n_name, c.s_name, c.p_partkey
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q2 pattern: cheapest supplier per part within a region —
    the correlated MIN subquery decorrelated into a per-part aggregate
    joined back on (part, cost). The supply association is the
    (l_partkey, l_suppkey) MIN(l_extendedprice) compaction of the fact
    (this corpus has no partsupp; MIN of a stored double involves no
    arithmetic, so the equality join-back is engine-exact). Region-
    filtered suppliers and the size-filtered part dim both broadcast;
    the only fact-scale shuffle is the (part, supp) compaction, and the
    top-100 rides a TOTAL order (acctbal desc, nation, supplier, part)
    so the cut is deterministic at any parallelism."""
    ps = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("supplycost"))
    )
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = (
        t(spark, sf_dir, "region")
        .filter(F.col("r_name") == "EUROPE")
        .select("r_regionkey")
    )
    eu = (
        t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    p = (
        t(spark, sf_dir, "part")
        .filter(F.col("p_size") == 15)
        .select("p_partkey", "p_type")
    )
    cand = (
        ps.join(F.broadcast(p), ps.l_partkey == p.p_partkey)
        .join(F.broadcast(eu), ps.l_suppkey == F.col("s_suppkey"))
        .select("p_partkey", "p_type", "s_name", "s_acctbal", "n_name", "supplycost")
    )
    mn = cand.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("supplycost").alias("min_cost")
    )
    return (
        cand.join(
            mn,
            (cand.p_partkey == mn.m_partkey)
            & (cand.supplycost == mn.min_cost),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "supplycost")
        .orderBy(
            F.desc("s_acctbal"), F.asc("n_name"), F.asc("s_name"), F.asc("p_partkey")
        )
        .limit(100)
    )


@query(
    "tpch_q11_important_stock",
    oracle="""
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             CAST(MIN(l_extendedprice) AS DECIMAL(12,2)) AS supplycost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    de AS (
      SELECT s_suppkey FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_8')
    ),
    v AS (
      SELECT ps.l_partkey AS p_partkey, SUM(ps.supplycost) AS value_dec
      FROM ps JOIN de ON de.s_suppkey = ps.l_suppkey
      GROUP BY ps.l_partkey
    )
    SELECT p_partkey, CAST(value_dec AS DOUBLE) AS part_value
    FROM v
    WHERE value_dec * (SELECT COUNT(*) FROM v)
            > 2 * (SELECT SUM(value_dec) FROM v)
    """,
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q11 pattern: per-part inventory value for one nation's
    suppliers, kept only when it exceeds a threshold derived from the
    TOTAL — the scalar subquery becomes a one-row aggregate broadcast
    back over the per-part values (no second scan of the fact). The
    spec's fixed fraction (0.0001/SF) must scale with data size or the
    result empties as parts multiply; here the scale-free form keeps
    parts above 2× the MEAN part value: value·count > 2·total, an
    integer-scaled DECIMAL compare, exact in both engines — a double
    fraction multiply could land on a representation tie."""
    ps = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").cast("decimal(12,2)").alias("supplycost"))
    )
    de = (
        t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(
                t(spark, sf_dir, "nation").filter(
                    F.col("n_name").isin("NATION_3", "NATION_7", "NATION_8")
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
            "left_semi",
        )
        .select("s_suppkey")
    )
    v = (
        ps.join(F.broadcast(de), ps.l_suppkey == de.s_suppkey, "left_semi")
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum("supplycost").alias("value_dec"))
    )
    # the scalar threshold attaches as a 1-row-build broadcast nested-
    # loop join (the filter is non-equi, so no hash join exists): the
    # correct scalar-subquery plan shape — build side is exactly one
    # aggregate row. Allowlisted as such in tools/explain_audit.py.
    total = v.agg(
        F.sum("value_dec").alias("total_dec"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        v.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec") * F.col("n_parts") > F.col("total_dec") * 2)
        .select("p_partkey", F.col("value_dec").cast("double").alias("part_value"))
    )


@query(
    "tpch_q13_customer_distribution",
    oracle="""
    WITH oc AS (
      SELECT o_custkey, COUNT(*) AS n
      FROM orders WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      GROUP BY o_custkey
    )
    SELECT c_count, COUNT(*) AS custdist FROM (
      SELECT c.c_custkey, CAST(COALESCE(oc.n, 0) AS BIGINT) AS c_count
      FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey
    ) GROUP BY c_count
    """,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q13 pattern: distribution of customers by order count
    INCLUDING zero-order customers — the left join that a naive
    groupBy(orders) silently drops. Orders pre-aggregate to one row
    per customer before the join (the probe side shrinks from fact- to
    key-scale), the filtered class ('urgent/high' here — the corpus
    has no o_comment) is excluded scan-side, and the final histogram
    aggregate is key-count-sized."""
    oc = (
        t(spark, sf_dir, "orders")
        .filter(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    c = t(spark, sf_dir, "customer").select("c_custkey")
    return (
        c.join(oc, c.c_custkey == oc.o_custkey, "left")
        .select(F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
        SUM(CAST(l_extendedprice AS DECIMAL(12,2))
            * CAST(1 - CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(5,2)))
          AS total_rev
      FROM lineitem
      WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM supplier s JOIN rev r ON r.supplier_no = s.s_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q15 pattern: supplier(s) achieving the MAX quarterly
    revenue — the revenue view computed once, its scalar MAX broadcast
    back, and the equality kept on DECIMAL revenues (exact, so
    co-leaders tie correctly; a double roundtrip could split them).
    Returns every tied supplier, as the spec requires."""
    rev = (
        t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate").cast("date") >= "1996-01-01")
            & (F.col("l_shipdate").cast("date") < "1996-04-01")
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(4,2)")).cast(
                    "decimal(5,2)"
                )
            ).alias("total_rev")
        )
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


@query(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    WITH cust AS (
      SELECT c_custkey, c_acctbal, CAST(c_nationkey % 5 AS INT) AS cntrycode
      FROM customer WHERE c_nationkey % 5 IN (0, 1, 2)
    ),
    thr AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM cust WHERE c_acctbal > 0
    )
    SELECT cntrycode, COUNT(*) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM cust, thr
    WHERE c_acctbal > thr.avg_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = cust.c_custkey
                        AND CAST(o.o_orderdate AS DATE) >= DATE '2000-07-01')
    GROUP BY cntrycode
    """,
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q22 pattern: rich-but-idle customers per country code —
    a scalar AVG threshold subquery (davg-exact: decimal sum / count,
    one IEEE division, broadcast back), an anti join against recent
    orders for 'gone idle' (every sf customer has SOME order, so the
    literal never-ordered form matches on an empty set — a 0-row
    oracle proves nothing; the date-bounded anti join keeps the result
    non-empty at every SF and the cutoff pushes into the orders scan),
    and a small-key aggregate. Country code is c_nationkey mod 5 (the
    corpus has no c_phone); the threshold compare runs against the
    same double in both engines because its numerator/denominator are
    exact."""
    cust = (
        t(spark, sf_dir, "customer")
        .filter((F.col("c_nationkey") % 5).isin(0, 1, 2))
        .select(
            "c_custkey",
            "c_acctbal",
            (F.col("c_nationkey") % 5).cast("int").alias("cntrycode"),
        )
    )
    thr = cust.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_bal")
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate").cast("date") >= "2000-07-01")
        .select("o_custkey")
    )
    # non-equi scalar threshold -> 1-row-build BNLJ by design
    # (allowlisted in tools/explain_audit.py; see tpch_q11)
    return (
        cust.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(o, cust.c_custkey == o.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )


@query(
    "events_value_zscore",
    oracle="""
    WITH st AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value * value AS DECIMAL(28,6))) AS DOUBLE) AS sq
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           CASE WHEN st.n > 1 AND sqrt(greatest((st.sq - (st.s * st.s) / st.n)
                     / (st.n - 1), 0.0)) > 0.0
                THEN ROUND((e.value - st.s / st.n)
                     / sqrt(greatest((st.sq - (st.s * st.s) / st.n)
                            / (st.n - 1), 0.0)), 4)
                ELSE 0.0 END AS z,
           CASE WHEN st.n > 1 AND sqrt(greatest((st.sq - (st.s * st.s) / st.n)
                     / (st.n - 1), 0.0)) > 0.0
                THEN abs((e.value - st.s / st.n)
                     / sqrt(greatest((st.sq - (st.s * st.s) / st.n)
                            / (st.n - 1), 0.0))) > 3.0
                ELSE FALSE END AS is_anomaly
    FROM events e JOIN st USING (event_type)
    """,
)
def events_value_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type z-score anomaly flagging: one grouped aggregate (tiny
    — one row per event_type) broadcast back over the fact scan. The
    sums ride DECIMAL so they are accumulation-order-independent; the
    squares are IEEE double products (bit-identical across engines)
    cast to decimal before summing, so mean/variance — and therefore
    every z and flag — are deterministic on any cluster size. Headroom
    note: the per-group square-sum stays below 2^53 decimal quanta up
    to ~100× this SF; beyond that the decimal→double CAST itself
    rounds (engine-specific last ulp — see lineitem_qty_price_corr)
    and the z rounding to 4 decimals is what absorbs it."""
    ev = t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    st = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sq"),
    )
    j = ev.join(F.broadcast(st), "event_type")
    mean = F.col("s") / F.col("n")
    var = F.greatest(
        (F.col("sq") - (F.col("s") * F.col("s")) / F.col("n"))
        / (F.col("n") - F.lit(1)),
        F.lit(0.0),
    )
    std = F.sqrt(var)
    ok = (F.col("n") > 1) & (std > 0.0)
    z = (F.col("value") - mean) / std
    return j.select(
        "event_id",
        "event_type",
        "value",
        F.when(ok, F.round(z, 4)).otherwise(F.lit(0.0)).alias("z"),
        F.when(ok, F.abs(z) > 3.0).otherwise(F.lit(False)).alias("is_anomaly"),
    )


@query(
    "customer_cohort_retention",
    oracle="""
    WITH om AS (
      SELECT DISTINCT o_custkey,
             year(o_orderdate) * 12 + month(o_orderdate) - 1 AS mi
      FROM orders
    ),
    first AS (
      SELECT o_custkey, MIN(mi) AS m0 FROM om GROUP BY o_custkey
    )
    SELECT CAST(f.m0 AS INT) AS cohort_month_idx,
           CAST(om.mi - f.m0 AS INT) AS month_offset,
           CAST(COUNT(DISTINCT om.o_custkey) AS BIGINT) AS n_customers
    FROM om JOIN first f USING (o_custkey)
    GROUP BY f.m0, om.mi - f.m0
    """,
)
def customer_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers bucketed by first-order
    month, counted per months-since-first-order offset — the classic
    retention triangle, in pure integer arithmetic (no float rank
    risk). Two shuffles on o_custkey (distinct months reuses the
    min-month partitioning) + the final small rollup; the month
    domain is tiny so the output is bounded regardless of fact size."""
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias("mi"),
    ).distinct()
    first = o.groupBy("o_custkey").agg(F.min("mi").alias("m0"))
    return (
        o.join(first, "o_custkey")
        .groupBy(
            F.col("m0").alias("cohort_month_idx"),
            (F.col("mi") - F.col("m0")).cast("int").alias("month_offset"),
        )
        .agg(F.countDistinct("o_custkey").alias("n_customers"))
    )


@query(
    "events_hourly_gapfill",
    oracle="""
    WITH hb AS (
      SELECT user_id, epoch_us(ts) // 3600000000 AS h FROM events
    ),
    cnt AS (SELECT user_id, h, COUNT(*) AS c FROM hb GROUP BY 1, 2),
    span AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM hb GROUP BY 1),
    spine AS (
      SELECT user_id, u.h FROM span, UNNEST(generate_series(mn, mx)) AS u(h)
    )
    SELECT s.user_id, CAST(s.h AS BIGINT) AS hour_idx,
           CAST(COALESCE(c.c, 0) AS BIGINT) AS n_events
    FROM spine s LEFT JOIN cnt c ON s.user_id = c.user_id AND s.h = c.h
    """,
)
def events_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense-resample each user's event stream to an hourly spine with
    zero-filled gaps — the standard time-series regularization before
    rolling models. Integer hour index (unix_micros DIV 3600e6): no
    float bucket math, engine-exact.

    Scale shape: the spine comes from per-user min/max + `sequence`
    explode — output is bounded by Σ user spans, never a cross join
    against a global calendar; counts and spine co-shuffle on
    (user_id) so the gap-fill left join is a same-key merge. A global
    calendar spine would also broadcast, but per-user spans avoid
    emitting rows outside a user's active window entirely."""
    e = t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(cast(ts as timestamp)) div 3600000000").alias("h"),
    )
    cnt = e.groupBy("user_id", "h").agg(F.count(F.lit(1)).alias("c"))
    spine = (
        e.groupBy("user_id")
        .agg(F.min("h").alias("mn"), F.max("h").alias("mx"))
        .select(
            "user_id",
            F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("h"),
        )
    )
    return (
        spine.join(cnt, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.col("h").alias("hour_idx"),
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


@query(
    "events_last_purchase_ffill",
    oracle="""
    SELECT event_id, user_id,
           last_value(CASE WHEN event_type = 'purchase' THEN value END
                      IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS last_purchase_value
    FROM events
    """,
)
def events_last_purchase_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill (last-observation-carried-forward) imputation:
    every event carries the user's most recent purchase value, NULL
    before the first purchase. The standard sparse-metric densifier
    for sessionized feature building.

    One shuffle on user_id, a single running window pass over a TOTAL
    order (ts, event_id) — the house tie-break invariant, so the fill
    is deterministic even with equal timestamps. `last(..,
    ignorenulls)` over rowsBetween(unboundedPreceding, current) is the
    codegen'd LOCF primitive; no self-join, no as-of re-derivation."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    obs = F.when(F.col("event_type") == "purchase", F.col("value"))
    return e.select(
        "event_id",
        "user_id",
        F.last(obs, ignorenulls=True).over(w).alias("last_purchase_value"),
    )


@query(
    "purchases_clean_conversion",
    oracle="""
    WITH p AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    last_click AS (
      SELECT p.event_id, p.user_id, p.ts,
             (SELECT MAX(c.ts) FROM c
              WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS click_ts
      FROM p
    )
    SELECT event_id, user_id,
           CAST(epoch_us(ts) - epoch_us(click_ts) AS BIGINT) AS gap_us
    FROM last_click l
    WHERE click_ts IS NOT NULL
      AND epoch_us(ts) - epoch_us(click_ts) <= 3600000000
      AND NOT EXISTS (
        SELECT 1 FROM events e
        WHERE e.user_id = l.user_id AND e.event_type = 'error'
          AND e.ts > l.click_ts AND e.ts < l.ts
      )
    """,
)
def purchases_clean_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern query: purchases preceded by a click within
    1 hour with NO error event between the click and the purchase —
    the 'A then B within T without C' event-analytics primitive,
    composed from the house as-of and interference-count shapes
    WITHOUT any per-row probing:

    one window pass per user stream carries (a) the latest click
    timestamp and (b) a running error count forward; a purchase
    qualifies iff the click is recent enough and the error count at
    the purchase equals the error count at that click position
    (captured by carrying the running error count AT the last click
    alongside the click itself). Single shuffle on user_id, single
    sort, zero joins.

    Tie semantics: the stream order is the TOTAL order (ts, event_id)
    per the house invariant; the independent correlated-subquery
    oracle uses ts alone, equivalent because the fixture has no
    same-user timestamp ties (verified 0 at every SF)."""
    e = t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.col("ts").cast("timestamp").alias("tts"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    is_err = (F.col("event_type") == "error").cast("long")
    # running error count INCLUSIVE of the current row
    err_cnt = F.sum(is_err).over(w)
    # at each click row, snapshot (click time, error count); carry the
    # latest snapshot forward
    click_snap = F.when(
        F.col("event_type") == "click",
        F.struct(F.col("us").alias("cus"), err_cnt.alias("cerr")),
    )
    carried = F.last(click_snap, ignorenulls=True).over(w)
    out = e.select(
        "event_id",
        "user_id",
        "event_type",
        "us",
        err_cnt.alias("err_now"),
        carried.alias("snap"),
    ).filter(
        (F.col("event_type") == "purchase")
        & F.col("snap").isNotNull()
        & (F.col("us") - F.col("snap.cus") <= 3600000000)
        # no error strictly between: running count at the purchase row
        # (purchases aren't errors, so inclusive == exclusive here)
        # equals the count at the click row (inclusive of that click,
        # which isn't an error either)
        & (F.col("err_now") == F.col("snap.cerr"))
    )
    return out.select(
        "event_id",
        "user_id",
        (F.col("us") - F.col("snap.cus")).alias("gap_us"),
    )
