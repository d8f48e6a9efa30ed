"""Relational-core query battery (SURVEY.md §2.2–§2.8, §2.11).

Each entry implements one operator row from the survey inventory as an
idiomatic Spark DataFrame plan, with a DuckDB oracle twin (ANSI SQL) for the
driver's correctness gate. Citations in each docstring point at the
reference occurrence the operator is distilled from.

Determinism rules (so value-hashes match the oracle bit-for-bit):
- money math goes through DECIMAL (exact, order-independent sums); final
  outputs cast to DOUBLE (correctly-rounded, engine-identical)
- averages are written CAST(SUM(decimal) AS DOUBLE)/COUNT so both engines
  perform the same two exact-input IEEE ops
- every top-k / latest-record window has a unique-key tiebreak
- all integer outputs cast to BIGINT (DuckDB SUM(int) is HUGEINT otherwise)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .session import local_frame
from .tables import load_table


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL twin; None -> rows-only check
    doc: str = ""


def _dec(c: Column | str, p: int = 12, s: int = 2) -> Column:
    col = F.col(c) if isinstance(c, str) else c
    return col.cast(f"decimal({p},{s})")


def _cents(c: str) -> Column:
    """A 2-dp money/rate column riding in a double, as exact int64
    hundredths (TESTDATA.md)."""
    return F.round(F.col(c) * 100).cast("long")


def _dsum(v: Column, scale: int = 1) -> Column:
    """Exact ``SUM(v) / scale`` as DOUBLE for an int64 ``v`` and a power
    of ten ``scale`` — bit-identical to the all-DECIMAL sum but ~10x
    cheaper: per-row values stay int64 (whole-stage codegen, no per-row
    BigDecimal), the accumulator widens to DECIMAL(38,0) (exact at any row
    count — no int64 overflow at 100 TB), and the scale shift is an exact
    decimal division with a single rounding at the final double cast."""
    acc = F.sum(v.cast("decimal(38,0)"))
    return (acc if scale == 1 else acc / scale).cast("double")


QUERIES: list[Query] = []


def q(name: str, oracle: str | None, doc: str = ""):
    def wrap(fn):
        QUERIES.append(Query(name=name, fn=fn, oracle=oracle, doc=doc))
        return fn

    return wrap


# =====================================================================
# §2.2 Projections / filters / predicates
# =====================================================================


@q(
    "p1_full_scan",
    "SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name FROM region",
    "P1 SELECT * full scan (readme.md:286-292; dremio.sql:2)",
)
def p1_full_scan(spark, sf_dir):
    return load_table(spark, sf_dir, "region").select(
        F.col("r_regionkey").cast("long").alias("r_regionkey"), "r_name"
    )


@q(
    "p2_projection_filter",
    """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
              CAST(l_linenumber AS BIGINT) AS l_linenumber,
              l_quantity, l_extendedprice
       FROM lineitem WHERE l_shipdate >= TIMESTAMP '1999-06-01 00:00:00'""",
    "P2 narrow projection + pushed filter (clinicdata.sql:126-132); "
    ".explain shows PushedFilters + 2-col ReadSchema",
)
def p2_projection_filter(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") >= F.lit("1999-06-01 00:00:00").cast("timestamp_ntz")).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_quantity",
        "l_extendedprice",
    )


@q(
    "p3_computed_alias",
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
              CAST(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(0.1 AS DECIMAL(4,2)) AS DOUBLE) AS est_tax,
              upper(o_orderpriority) AS priority_uc
       FROM orders WHERE o_orderkey < 500""",
    "P3 computed/aliased projection (finance_example.sql:83-85)",
)
def p3_computed_alias(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        (_dec("o_totalprice") * F.lit(0.1).cast("decimal(4,2)")).cast("double").alias("est_tax"),
        F.upper("o_orderpriority").alias("priority_uc"),
    )


@q(
    "p4_comparison_predicates",
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_orderstatus, o_totalprice
       FROM orders
       WHERE o_orderstatus <> 'F' AND o_totalprice > 450000.0 AND o_custkey >= 10""",
    "P4 =/<>/>/>= predicates (retail.sql:207; supply_chain_example.sql:80)",
)
def p4_comparison_predicates(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        (F.col("o_orderstatus") != "F")
        & (F.col("o_totalprice") > 450000.0)
        & (F.col("o_custkey") >= 10)
    ).select(F.col("o_orderkey").cast("long").alias("o_orderkey"), "o_orderstatus", "o_totalprice")


@q(
    "p5_in_list",
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment, c_acctbal
       FROM customer
       WHERE c_mktsegment IN ('BUILDING','AUTOMOBILE') AND c_nationkey NOT IN (0,1,2)""",
    "P5 IN / NOT IN (clinicdata.sql:230,255; manufacturing.sql:116)",
)
def p5_in_list(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE") & ~F.col("c_nationkey").isin(0, 1, 2)
    ).select(F.col("c_custkey").cast("long").alias("c_custkey"), "c_mktsegment", "c_acctbal")


@q(
    "p6_like_patterns",
    """SELECT CAST(p_partkey AS BIGINT) AS p_partkey, p_name, p_brand
       FROM part WHERE p_name LIKE 'red%' OR p_name LIKE '%bolt'""",
    "P6 LIKE prefix/suffix (healthcare_example.sql:104; ai_generate.sql:23)",
)
def p6_like_patterns(spark, sf_dir):
    p = load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_name").like("red%") | F.col("p_name").like("%bolt")).select(
        F.col("p_partkey").cast("long").alias("p_partkey"), "p_name", "p_brand"
    )


@q(
    "p7_between_range",
    """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
              CAST(l_linenumber AS BIGINT) AS l_linenumber, l_quantity
       FROM lineitem
       WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01' AND TIMESTAMP '1997-03-31 23:59:59'
         AND l_quantity BETWEEN 10 AND 20""",
    "P7 BETWEEN on timestamp + numeric (healthcare_example.sql:84-85; retail.sql:263-264)",
)
def p7_between_range(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").between(
            F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"),
            F.lit("1997-03-31 23:59:59").cast("timestamp_ntz"),
        )
        & F.col("l_quantity").between(10, 20)
    ).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_quantity",
    )


@q(
    "p8_null_predicates",
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
              CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS acctbal_clean,
              CAST(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS BIGINT) AS was_dirty
       FROM customer
       WHERE (CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END) IS NULL
          OR c_acctbal > 9900.0""",
    "P8 IS NULL / IS NOT NULL over sentinel-dirty values (clinicdata.sql:162-163,254)",
)
def p8_null_predicates(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    clean = F.when(F.col("c_acctbal") < 0, F.lit(None)).otherwise(F.col("c_acctbal"))
    return c.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        clean.alias("acctbal_clean"),
        F.when(F.col("c_acctbal") < 0, 1).otherwise(0).cast("long").alias("was_dirty"),
    ).filter(F.col("acctbal_clean").isNull() | (F.col("c_acctbal") > 9900.0))


# =====================================================================
# §2.3 Joins
# =====================================================================


@q(
    "j1_inner_equi",
    """SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_name,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       GROUP BY c.c_custkey, c.c_name""",
    "J1 inner equi-join + customer spend rollup (readme.md:296-301; retail.sql:150-152). "
    "customer is broadcast (small dim) so the fact never shuffles for the join.",
)
def j1_inner_equi(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), c.c_custkey == o.o_custkey)
        .groupBy(c.c_custkey, c.c_name)
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            _dsum(_cents("o_totalprice"), 100).alias("total_spend"),
        )
        .select(F.col("c_custkey").cast("long").alias("c_custkey"), "c_name", "n_orders", "total_spend")
    )


@q(
    "j2_composite_key",
    """WITH ps AS (
         SELECT l_partkey, l_suppkey,
                SUM(CAST(l_quantity AS DECIMAL(12,2))) AS pair_qty,
                COUNT(*) AS pair_lines
         FROM lineitem GROUP BY l_partkey, l_suppkey)
       SELECT CAST(l.l_orderkey AS BIGINT) AS l_orderkey,
              CAST(l.l_linenumber AS BIGINT) AS l_linenumber,
              CAST(ps.pair_qty AS DOUBLE) AS pair_qty,
              CAST(ps.pair_lines AS BIGINT) AS pair_lines
       FROM lineitem l
       JOIN ps ON l.l_partkey = ps.l_partkey AND l.l_suppkey = ps.l_suppkey
       WHERE l.l_orderkey < 300""",
    "J2 composite-key equi-join (supply_chain_example.sql:88-91)",
)
def j2_composite_key(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(_dec("l_quantity")).alias("pair_qty"), F.count("*").alias("pair_lines")
    )
    return (
        li.filter(F.col("l_orderkey") < 300)
        .join(ps, ["l_partkey", "l_suppkey"])
        .select(
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            F.col("l_linenumber").cast("long").alias("l_linenumber"),
            F.col("pair_qty").cast("double").alias("pair_qty"),
            F.col("pair_lines").cast("long").alias("pair_lines"),
        )
    )


@q(
    "j3_expression_key",
    """WITH daily AS (
         SELECT CAST(l_shipdate AS DATE) AS ship_date,
                SUM(CAST(l_quantity AS DECIMAL(12,2))) AS day_qty
         FROM lineitem GROUP BY CAST(l_shipdate AS DATE))
       SELECT date_trunc('month', o.o_orderdate) AS order_month,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(d.day_qty) AS DOUBLE) AS matched_qty
       FROM orders o
       JOIN daily d ON CAST(o.o_orderdate AS DATE) = d.ship_date
       GROUP BY date_trunc('month', o.o_orderdate)""",
    "J3 join on expression key TO_DATE(ts)=date (finance_example.sql:86-89; "
    "insurance_example.sql:84-86 DATE_TRUNC month key)",
)
def j3_expression_key(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("ship_date")).agg(
        F.sum(_dec("l_quantity")).alias("day_qty")
    )
    return (
        o.join(daily, o.o_orderdate.cast("date") == daily.ship_date)
        .groupBy(F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("order_month"))
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("day_qty").cast("double").alias("matched_qty"),
        )
    )


@q(
    "j4_left_outer",
    """SELECT CAST(s.s_suppkey AS BIGINT) AS s_suppkey, s.s_name,
              CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_big_lines,
              CAST(COALESCE(SUM(CAST(l.l_quantity AS DECIMAL(12,2))), 0) AS DOUBLE) AS big_qty
       FROM supplier s
       LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 49.0) l
         ON s.s_suppkey = l.l_suppkey
       GROUP BY s.s_suppkey, s.s_name""",
    "J4 left outer join preserving unmatched dim rows (gov_example.sql:89-91; "
    "retail.sql:168-170); COALESCE(...,0) mirrors insurance_example.sql:120-131",
)
def j4_left_outer(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49.0)
    return (
        s.join(li, s.s_suppkey == li.l_suppkey, "left")
        .groupBy(s.s_suppkey, s.s_name)
        .agg(
            F.count("l_orderkey").cast("long").alias("n_big_lines"),
            F.coalesce(F.sum(_dec("l_quantity")), F.lit(0).cast("decimal(12,2)"))
            .cast("double")
            .alias("big_qty"),
        )
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"), "s_name", "n_big_lines", "big_qty")
    )


@q(
    "j5_interval_join",
    """SELECT o.o_orderstatus,
              CAST(COUNT(*) AS BIGINT) AS n_lines_in_window,
              CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty_in_window
       FROM orders o
       JOIN lineitem l
         ON o.o_orderkey = l.l_orderkey
        AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 90 DAY
       GROUP BY o.o_orderstatus""",
    "J5 equi-key + time-window interval condition (healthcare_example.sql:82-85; "
    "manufacturing.sql:195-198). Executes as join on the equi key with the "
    "range as a post-join filter — no cross product.",
)
def j5_interval_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & li.l_shipdate.between(
        o.o_orderdate, o.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    return (
        o.join(li, cond)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_lines_in_window"),
            _dsum(_cents("l_quantity"), 100).alias("qty_in_window"),
        )
    )


@q(
    "j6_anti_join",
    """SELECT CAST(l.l_partkey AS BIGINT) AS l_partkey,
              CAST(COUNT(*) AS BIGINT) AS n_orphan_lines
       FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM part p
                         WHERE p.p_partkey = l.l_partkey AND p.p_size <= 40)
       GROUP BY l.l_partkey""",
    "J6 anti-join / FK-violation pattern (manufacturing.sql:220-225; "
    "clinicdata.sql:114-115) as left_anti against the pruned dimension",
)
def j6_anti_join(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 40)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left_anti")
        .groupBy("l_partkey")
        .agg(F.count("*").cast("long").alias("n_orphan_lines"))
        .select(F.col("l_partkey").cast("long").alias("l_partkey"), "n_orphan_lines")
    )


@q(
    "j7_semi_join",
    """SELECT CAST(c.c_custkey AS BIGINT) AS c_custkey, c.c_mktsegment
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 490000.0)""",
    "left_semi complement of J6 (engine extension; SURVEY §2.3 note)",
)
def j7_semi_join(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 490000.0)
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        F.col("c_custkey").cast("long").alias("c_custkey"), "c_mktsegment"
    )


@q(
    "j8_multiway",
    """SELECT r.r_name, n.n_name,
              CAST(COUNT(*) AS BIGINT) AS n_customers,
              CAST(SUM(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_acctbal
       FROM customer c
       JOIN nation n ON c.c_nationkey = n.n_nationkey
       JOIN region r ON n.n_regionkey = r.r_regionkey
       GROUP BY r.r_name, n.n_name""",
    "J8 multi-way join (semantic_example.sql:265-271); both dims broadcast",
)
def j8_multiway(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").cast("long").alias("n_customers"),
            _dsum(_cents("c_acctbal"), 100).alias("sum_acctbal"),
        )
    )


@q(
    "j9_inline_values_dim",
    """WITH seg_tier(seg, tier) AS (
         VALUES ('BUILDING','B2B'), ('MACHINERY','B2B'), ('AUTOMOBILE','B2C'),
                ('FURNITURE','B2C'), ('HOUSEHOLD','B2C'))
       SELECT t.tier, CAST(COUNT(*) AS BIGINT) AS n_customers
       FROM customer c JOIN seg_tier t ON c.c_mktsegment = t.seg
       GROUP BY t.tier""",
    "J9 join to inline-VALUES dimension (manufacturing.sql:82-103,139-154)",
)
def j9_inline_values_dim(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    dim = local_frame(
        spark,
        [
            ("BUILDING", "B2B"),
            ("MACHINERY", "B2B"),
            ("AUTOMOBILE", "B2C"),
            ("FURNITURE", "B2C"),
            ("HOUSEHOLD", "B2C"),
        ],
        "seg STRING, tier STRING",
    )
    return (
        c.join(F.broadcast(dim), c.c_mktsegment == dim.seg)
        .groupBy("tier")
        .agg(F.count("*").cast("long").alias("n_customers"))
    )


# =====================================================================
# §2.4 Aggregations
# =====================================================================


@q(
    "a1_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
              CAST(COUNT(*) AS BIGINT) AS count_order,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                       (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
                AS sum_disc_price,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
                       (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) *
                       (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
                AS sum_charge,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '2001-09-01'
       GROUP BY l_returnflag, l_linestatus""",
    "A1/A3/A9 flagship pricing summary (TPC-H Q1 shape; mirrors dremio.sql:4-8 "
    "full-scan multi-AVG and the A-family rows). The engine's headline scan-agg. "
    "Money math is EXACT by design (the reference types money as DECIMAL(18,x), "
    "SURVEY §1.2) but runs as scaled-integer arithmetic: 2-dp money fits int64 "
    "cents, per-row products stay < ~4e11 (int64-safe), and only the SUM "
    "accumulator is DECIMAL(38,0) — exact at any scale, no per-row BigDecimal. "
    "Measured 16x faster than the all-DECIMAL formulation at sf0.1 with "
    "bit-identical output (the oracle's DECIMAL SQL pins that equivalence).",
)
def a1_pricing_summary(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")

    qty, price = _cents("l_quantity"), _cents("l_extendedprice")
    disc, tax = _cents("l_discount"), _cents("l_tax")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("count_order"),
            _dsum(qty, 100).alias("sum_qty"),
            _dsum(price, 100).alias("sum_base_price"),
            _dsum(price * (100 - disc), 10_000).alias("sum_disc_price"),
            _dsum(price * (100 - disc) * (100 + tax), 1_000_000).alias("sum_charge"),
            (_dsum(qty, 100) / F.count("*")).alias("avg_qty"),
            (_dsum(price, 100) / F.count("*")).alias("avg_price"),
        )
    )


@q(
    "a2_count_distinct",
    """SELECT o_orderstatus,
              CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
              CAST(COUNT(*) AS BIGINT) AS n_orders
       FROM orders GROUP BY o_orderstatus""",
    "A2 COUNT(DISTINCT) (retail.sql:205-206; insurance_example.sql:101)",
)
def a2_count_distinct(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_customers"),
        F.count("*").cast("long").alias("n_orders"),
    )


@q(
    "a4_conditional_sum",
    """SELECT o_orderpriority,
              CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2))
                            ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS fulfilled_value,
              CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2))
                            ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE) AS open_value,
              CAST(COUNT(*) AS BIGINT) AS n_orders
       FROM orders GROUP BY o_orderpriority""",
    "A4 SUM(CASE WHEN) conditional pivot — the P&L-by-side shape "
    "(finance_example.sql:102-107; gov_example.sql:103-104; logistics_AI.sql:267-278)",
)
def a4_conditional_sum(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    zero = F.lit(0).cast("decimal(12,2)")
    return o.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", _dec("o_totalprice")).otherwise(zero))
        .cast("double")
        .alias("fulfilled_value"),
        F.sum(F.when(F.col("o_orderstatus") == "O", _dec("o_totalprice")).otherwise(zero))
        .cast("double")
        .alias("open_value"),
        F.count("*").cast("long").alias("n_orders"),
    )


@q(
    "a5_rate_avg_flag",
    """SELECT c_mktsegment,
              AVG(CASE WHEN c_acctbal > 5000.0 THEN 1.0 ELSE 0.0 END) AS high_bal_rate,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM customer GROUP BY c_mktsegment""",
    "A5 rate-as-AVG-of-flag (gov_example.sql:107 SLA rate; supply_chain OTIF)",
)
def a5_rate_avg_flag(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.avg(F.when(F.col("c_acctbal") > 5000.0, 1.0).otherwise(0.0)).alias("high_bal_rate"),
        F.count("*").cast("long").alias("n"),
    )


@q(
    "a6_max_case_flag",
    """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
              CAST(MAX(CASE WHEN o_totalprice > 400000.0 THEN 1 ELSE 0 END) AS BIGINT)
                AS has_big_order,
              CAST(COUNT(*) AS BIGINT) AS n_orders
       FROM orders GROUP BY o_custkey""",
    "A6 per-group flag via MAX(CASE) (healthcare_example.sql:91-99; clinicdata.sql:312-321)",
)
def a6_max_case_flag(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max(F.when(F.col("o_totalprice") > 400000.0, 1).otherwise(0))
        .cast("long")
        .alias("has_big_order"),
        F.count("*").cast("long").alias("n_orders"),
    ).select(F.col("o_custkey").cast("long").alias("o_custkey"), "has_big_order", "n_orders")


@q(
    "a7_filtered_count",
    """SELECT o_orderstatus,
              CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS n_urgent,
              CAST(COUNT(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS n_low,
              CAST(COUNT(*) AS BIGINT) AS n_total
       FROM orders GROUP BY o_orderstatus""",
    "A7/A8 COUNT FILTER / COUNT(CASE) (clinicdata.sql:326-334; manufacturing.sql:350)",
)
def a7_filtered_count(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).cast("long").alias("n_urgent"),
        F.count(F.when(F.col("o_orderpriority") == "5-LOW", 1)).cast("long").alias("n_low"),
        F.count("*").cast("long").alias("n_total"),
    )


@q(
    "a11_global_agg",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue,
              CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
              CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
       FROM lineitem""",
    "A11 global aggregate, no GROUP BY (semantics.sql:191-194); also mirrors "
    "dremio.sql:1-2 full-table COUNT(*)",
)
def a11_global_agg(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").cast("long").alias("n_rows"),
        _dsum(_cents("l_extendedprice"), 100).alias("total_revenue"),
        F.min("l_extendedprice").cast("double").alias("min_price"),
        F.max("l_extendedprice").cast("double").alias("max_price"),
    )


@q(
    "a12_having_dups",
    """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
              CAST(l_partkey AS BIGINT) AS l_partkey,
              CAST(COUNT(*) AS BIGINT) AS n_dups
       FROM lineitem GROUP BY l_orderkey, l_partkey HAVING COUNT(*) > 1""",
    "A12/Q3 duplicate detection via HAVING COUNT>1 (manufacturing.sql:86-91)",
)
def a12_having_dups(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(F.count("*").cast("long").alias("n_dups"))
        .filter(F.col("n_dups") > 1)
        .select(
            F.col("l_orderkey").cast("long").alias("l_orderkey"),
            F.col("l_partkey").cast("long").alias("l_partkey"),
            "n_dups",
        )
    )


@q(
    "a13_listagg",
    """SELECT CAST(n.n_regionkey AS BIGINT) AS n_regionkey,
              array_to_string(list_sort(list(DISTINCT n.n_name)), ', ') AS nations
       FROM nation n GROUP BY n.n_regionkey""",
    "A13 LISTAGG(DISTINCT) (media_ai.sql:195) as array_join(array_sort(collect_set)) — "
    "sorted for cross-engine determinism (Dremio LISTAGG is unordered)",
)
def a13_listagg(spark, sf_dir):
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy(F.col("n_regionkey").cast("long").alias("n_regionkey")).agg(
        F.array_join(F.array_sort(F.collect_set("n_name")), ", ").alias("nations")
    )


@q(
    "a14_distinct_then_avg",
    """SELECT o_orderstatus,
              CAST(COUNT(*) AS BIGINT) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_order_value
       FROM (SELECT DISTINCT o.o_orderkey, o.o_orderstatus, o.o_totalprice
             FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             WHERE l.l_quantity > 45.0) d
       GROUP BY o_orderstatus""",
    "A14 de-dup before AVG to undo join fan-out (healthcare_example.sql:116-125; "
    "clinicdata.sql:349-362)",
)
def a14_distinct_then_avg(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 45.0)
    d = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .distinct()
    )
    return d.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_orders"),
        (_dsum(_cents("o_totalprice"), 100) / F.count("*")).alias("avg_order_value"),
    )


@q(
    "a15_ratio_guard",
    """SELECT l_linestatus,
              CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS n_returned,
              CAST(COUNT(*) AS BIGINT) AS n_lines,
              CASE WHEN COUNT(*) > 0
                   THEN CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
                        * 100.0 / COUNT(*)
                   ELSE NULL END AS return_rate_pct
       FROM lineitem GROUP BY l_linestatus""",
    "A15 ratio-of-aggregates with divide-by-zero guard + *100.0 promotion "
    "(healthcare_example.sql:106-111; insurance_example.sql:123-131)",
)
def a15_ratio_guard(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    n_ret = F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
    return li.groupBy("l_linestatus").agg(
        n_ret.cast("long").alias("n_returned"),
        F.count("*").cast("long").alias("n_lines"),
        F.when(F.count("*") > 0, n_ret.cast("double") * 100.0 / F.count("*"))
        .otherwise(F.lit(None))
        .alias("return_rate_pct"),
    )


@q(
    "a16_agg_then_join",
    """WITH monthly_orders AS (
         SELECT date_trunc('month', o_orderdate) AS m,
                SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS order_value,
                COUNT(*) AS n_orders
         FROM orders GROUP BY 1),
       monthly_ship AS (
         SELECT date_trunc('month', l_shipdate) AS m,
                SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS shipped_value
         FROM lineitem GROUP BY 1)
       SELECT mo.m AS month,
              CAST(mo.order_value AS DOUBLE) AS order_value,
              CAST(mo.n_orders AS BIGINT) AS n_orders,
              CAST(COALESCE(ms.shipped_value, 0) AS DOUBLE) AS shipped_value
       FROM monthly_orders mo LEFT JOIN monthly_ship ms ON mo.m = ms.m""",
    "A16 two-CTE aggregate-then-join (insurance_example.sql:95-136 premium vs claims)",
)
def a16_agg_then_join(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    mo = o.groupBy(F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("m")).agg(
        F.sum(_dec("o_totalprice")).alias("order_value"), F.count("*").alias("n_orders")
    )
    ms = li.groupBy(F.date_trunc("month", F.col("l_shipdate")).cast("timestamp_ntz").alias("m")).agg(
        F.sum(_dec("l_extendedprice")).alias("shipped_value")
    )
    return mo.join(ms, "m", "left").select(
        F.col("m").alias("month"),
        F.col("order_value").cast("double").alias("order_value"),
        F.col("n_orders").cast("long").alias("n_orders"),
        F.coalesce(F.col("shipped_value"), F.lit(0).cast("decimal(12,2)"))
        .cast("double")
        .alias("shipped_value"),
    )


# =====================================================================
# §2.5 Windows
# =====================================================================


@q(
    "w1_latest_per_key",
    """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
              CAST(o_orderkey AS BIGINT) AS o_orderkey,
              o_orderdate, o_totalprice
       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
             FROM orders) t
       WHERE rn = 1""",
    "W1 latest-record dedup idiom: ROW_NUMBER … WHERE rn=1 (retail.sql:120-125; "
    "clinicdata.sql:143-161; semantics.sql:137-151). Unique-key tiebreak added.",
)
def w1_latest_per_key(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").cast("long").alias("o_custkey"),
            F.col("o_orderkey").cast("long").alias("o_orderkey"),
            "o_orderdate",
            "o_totalprice",
        )
    )


@q(
    "w2_rolling_7day",
    """WITH daily AS (
         SELECT l_returnflag, date_trunc('day', l_shipdate) AS d,
                SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS day_rev
         FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-07-01'
         GROUP BY l_returnflag, date_trunc('day', l_shipdate))
       SELECT l_returnflag, d, CAST(day_rev AS DOUBLE) AS day_rev,
              CAST(SUM(day_rev) OVER (PARTITION BY l_returnflag ORDER BY d
                                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
                AS rolling_7d_rev
       FROM daily""",
    "W2 7-day rolling revenue, ROWS BETWEEN 6 PRECEDING (retail.sql:230-240)",
)
def w2_rolling_7day(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") < F.lit("1995-07-01 00:00:00").cast("timestamp_ntz")
    )
    daily = li.groupBy("l_returnflag", F.date_trunc("day", F.col("l_shipdate")).cast("timestamp_ntz").alias("d")).agg(
        F.sum(_dec("l_extendedprice")).alias("day_rev")
    )
    w = Window.partitionBy("l_returnflag").orderBy("d").rowsBetween(-6, 0)
    return daily.select(
        "l_returnflag",
        "d",
        F.col("day_rev").cast("double").alias("day_rev"),
        F.sum("day_rev").over(w).cast("double").alias("rolling_7d_rev"),
    )


@q(
    "w3_lead_gap",
    """SELECT CAST(o_custkey AS BIGINT) AS o_custkey,
              CAST(o_orderkey AS BIGINT) AS o_orderkey,
              CAST(date_diff('day', CAST(o_orderdate AS DATE),
                             CAST(LEAD(o_orderdate) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS DATE)) AS BIGINT)
                AS days_to_next
       FROM orders WHERE o_custkey < 100""",
    "W3 LEAD adjacent-event pairing — idiomatic replacement of the reference's "
    "row_number+1 self-join MTBF (manufacturing.sql:288-317)",
)
def w3_lead_gap(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return o.select(
        F.col("o_custkey").cast("long").alias("o_custkey"),
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.datediff(nxt.cast("date"), F.col("o_orderdate").cast("date")).cast("long").alias("days_to_next"),
    )


@q(
    "w4_rank_topn_per_group",
    """SELECT c_mktsegment, CAST(c_custkey AS BIGINT) AS c_custkey, c_acctbal,
              CAST(rnk AS BIGINT) AS rnk
       FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
                    RANK() OVER (PARTITION BY c_mktsegment
                                 ORDER BY c_acctbal DESC, c_custkey) AS rnk
             FROM customer) t
       WHERE rnk <= 5""",
    "RANK top-N per group (engine extension of the W family; SURVEY §2.5 note)",
)
def w4_rank_topn_per_group(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return (
        c.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 5)
        .select(
            "c_mktsegment",
            F.col("c_custkey").cast("long").alias("c_custkey"),
            "c_acctbal",
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


# =====================================================================
# §2.6 Sorts / top-k   §2.7 Set operations
# =====================================================================


@q(
    "o1_topk",
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey, o_totalprice
       FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "O1 presentation sort + top-k (semantics.sql:235-241; LIMIT is an engine "
    "extension — TakeOrderedAndProject, no full sort at scale)",
)
def o1_topk(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select(F.col("o_orderkey").cast("long").alias("o_orderkey"), "o_totalprice")
    )


@q(
    "u1_union_all",
    """SELECT src, CAST(COUNT(*) AS BIGINT) AS n FROM (
         SELECT 'high_value' AS src FROM orders WHERE o_totalprice > 400000.0
         UNION ALL
         SELECT 'urgent' AS src FROM orders WHERE o_orderpriority = '1-URGENT') u
       GROUP BY src""",
    "U1 UNION ALL (manufacturing.sql:82-84; recipes.sql:9-12)",
)
def u1_union_all(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    hi = o.filter(F.col("o_totalprice") > 400000.0).select(F.lit("high_value").alias("src"))
    ur = o.filter(F.col("o_orderpriority") == "1-URGENT").select(F.lit("urgent").alias("src"))
    return hi.unionAll(ur).groupBy("src").agg(F.count("*").cast("long").alias("n"))


@q(
    "u2_distinct",
    """SELECT DISTINCT c_mktsegment, CAST(c_nationkey AS BIGINT) AS c_nationkey
       FROM customer""",
    "U2 SELECT DISTINCT (healthcare_example.sql:122-124; semantic_example.sql:322-334)",
)
def u2_distinct(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return c.select("c_mktsegment", F.col("c_nationkey").cast("long").alias("c_nationkey")).distinct()


@q(
    "u3_intersect_except",
    """SELECT 'both' AS which, CAST(k AS BIGINT) AS nationkey FROM (
         SELECT c_nationkey AS k FROM customer INTERSECT SELECT s_nationkey FROM supplier) a
       UNION ALL
       SELECT 'customer_only' AS which, CAST(k AS BIGINT) AS nationkey FROM (
         SELECT c_nationkey AS k FROM customer EXCEPT SELECT s_nationkey FROM supplier) b""",
    "INTERSECT/EXCEPT (engine extension; SURVEY §2.7 'free in Spark if we add them')",
)
def u3_intersect_except(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k"))
    both = c.intersect(s).select(F.lit("both").alias("which"), F.col("k").cast("long").alias("nationkey"))
    conly = c.subtract(s).select(
        F.lit("customer_only").alias("which"), F.col("k").cast("long").alias("nationkey")
    )
    return both.unionAll(conly)


# =====================================================================
# §2.8 Scalar-function dialect coverage
# =====================================================================


@q(
    "f_string_funcs",
    """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
              upper(trim(p_name)) AS name_std,
              p_brand || '/' || p_type AS brand_type,
              substr(p_name, 1, 3) AS name_prefix,
              replace(p_name, ' ', '_') AS name_snake,
              CAST(length(p_name) AS BIGINT) AS name_len,
              CAST(CASE WHEN regexp_matches(p_name, '^(red|blue)')
                        THEN 1 ELSE 0 END AS BIGINT) AS is_color
       FROM part WHERE p_partkey < 200""",
    "string family: UPPER/TRIM/||/SUBSTR/REPLACE/LENGTH/REGEXP_LIKE "
    "(retail.sql:96; manufacturing.sql:116,127-131; logistics_AI.sql:128-134; "
    "semantic_example.sql:112-124)",
)
def f_string_funcs(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 200)
    return p.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        F.upper(F.trim(F.col("p_name"))).alias("name_std"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.substring("p_name", 1, 3).alias("name_prefix"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.length("p_name").cast("long").alias("name_len"),
        F.when(F.col("p_name").rlike("^(red|blue)"), 1).otherwise(0).cast("long").alias("is_color"),
    )


@q(
    "f_datetime_funcs",
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
              o_orderdate AS order_date,
              CAST(year(o_orderdate) AS BIGINT) AS order_year,
              CAST(month(o_orderdate) AS BIGINT) AS order_month,
              date_trunc('month', o_orderdate) AS month_start,
              CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                AS days_since_epoch0,
              o_orderdate + INTERVAL 30 DAY AS due_date,
              CAST(CASE WHEN o_orderdate + INTERVAL 90 DAY < TIMESTAMP '1996-01-01'
                        THEN 1 ELSE 0 END AS BIGINT) AS early_flag
       FROM orders WHERE o_orderkey < 300""",
    "datetime family: TO_DATE/YEAR/MONTH/DATE_TRUNC/DATEDIFF/TIMESTAMPADD/interval "
    "arithmetic (finance_example.sql:83; gov_example.sql:77-84; insurance_example.sql:71; "
    "healthcare_example.sql:84; manufacturing.sql:236)",
)
def f_datetime_funcs(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        F.col("o_orderkey").cast("long").alias("o_orderkey"),
        F.col("o_orderdate").alias("order_date"),
        F.year("o_orderdate").cast("long").alias("order_year"),
        F.month("o_orderdate").cast("long").alias("order_month"),
        F.date_trunc("month", F.col("o_orderdate")).cast("timestamp_ntz").alias("month_start"),
        F.datediff(d, F.lit("1995-01-01").cast("date")).cast("long").alias("days_since_epoch0"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        F.when(
            F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            < F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"),
            1,
        )
        .otherwise(0)
        .cast("long")
        .alias("early_flag"),
    )


@q(
    "f_conditional_funcs",
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey,
              CASE c_mktsegment WHEN 'BUILDING' THEN 'B' WHEN 'MACHINERY' THEN 'M'
                   ELSE 'OTHER' END AS seg_code,
              CASE WHEN c_acctbal < 0 THEN 'negative'
                   WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END AS bal_band,
              COALESCE(NULLIF(c_mktsegment, 'FURNITURE'), 'UNASSIGNED') AS seg_clean
       FROM customer WHERE c_custkey < 400""",
    "conditional family: simple CASE, searched CASE, COALESCE/NULLIF "
    "(semantic_example.sql:145-150; gov_example.sql:78; retail.sql:167)",
)
def f_conditional_funcs(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 400)
    seg = F.col("c_mktsegment")
    return c.select(
        F.col("c_custkey").cast("long").alias("c_custkey"),
        F.when(seg == "BUILDING", "B").when(seg == "MACHINERY", "M").otherwise("OTHER").alias("seg_code"),
        F.when(F.col("c_acctbal") < 0, "negative")
        .when(F.col("c_acctbal") < 5000, "low")
        .otherwise("high")
        .alias("bal_band"),
        F.coalesce(F.nullif(seg, F.lit("FURNITURE")), F.lit("UNASSIGNED")).alias("seg_clean"),
    )


@q(
    "f_cast_decimal_money",
    """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
              CAST(l_linenumber AS BIGINT) AS l_linenumber,
              CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)) *
                         (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))), 2)
                   AS DOUBLE) AS net_price,
              CAST(CAST(l_quantity AS BIGINT) AS BIGINT) AS qty_int
       FROM lineitem WHERE l_orderkey < 200""",
    "conversion family: CAST to DECIMAL(18,2)/BIGINT with explicit money re-cast "
    "(retail.sql:117,187; semantic_example.sql:125)",
)
def f_cast_decimal_money(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    one = F.lit(1).cast("decimal(4,2)")
    net = (_dec("l_extendedprice") * (one - F.col("l_discount").cast("decimal(4,2)"))).cast(
        "decimal(18,2)"
    )
    return li.select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        net.cast("double").alias("net_price"),
        F.col("l_quantity").cast("long").alias("qty_int"),
    )


@q(
    "f_array_funcs",
    """SELECT CAST(p_partkey AS BIGINT) AS p_partkey,
              array_to_string(list_sort(string_split(p_name, ' ')), ',') AS name_tokens,
              CAST(len(string_split(p_name, ' ')) AS BIGINT) AS n_tokens,
              array_to_string(['alpha','beta'], '|') AS const_arr
       FROM part WHERE p_partkey < 100""",
    "array family: ARRAY literal / ARRAY_TO_STRING / split (recipes.sql:7,18; "
    "ai_classify_examples.sql:32)",
)
def f_array_funcs(spark, sf_dir):
    p = load_table(spark, sf_dir, "part").filter(F.col("p_partkey") < 100)
    toks = F.split("p_name", " ")
    return p.select(
        F.col("p_partkey").cast("long").alias("p_partkey"),
        F.array_join(F.array_sort(toks), ",").alias("name_tokens"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.array_join(F.array(F.lit("alpha"), F.lit("beta")), "|").alias("const_arr"),
    )
