"""Gap-filling queries completing the SURVEY §2 inventory row-for-row:
A3/A9/A10 aggregation shapes, P9 boolean combinators, J10 view-stack join,
Q8 KPI null checks, T4 document fingerprinting."""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import textstats as TS
from .queries_core import _cents, _dec, _dsum, q
from .tables import load_table


@q(
    "a3_sum_avg_min_max",
    """SELECT n_name,
              CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
              CAST(CAST(SUM(CAST(s_acctbal AS DECIMAL(12,2))) AS DOUBLE)
                   / COUNT(s_acctbal) AS DOUBLE) AS avg_bal,
              CAST(MIN(s_acctbal) AS DOUBLE) AS min_bal,
              CAST(MAX(s_acctbal) AS DOUBLE) AS max_bal,
              CAST(COUNT(*) AS BIGINT) AS n_suppliers
       FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
       GROUP BY n_name""",
    "A3 SUM/AVG/MIN/MAX battery per group (dremio.sql:5-8 multi-AVG; "
    "insurance_example.sql:146-148 MIN/MAX/AVG)",
)
def a3_sum_avg_min_max(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    sum_dec = _dsum(_cents("s_acctbal"), 100)
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            sum_dec.alias("sum_bal"),
            (sum_dec / F.count("s_acctbal")).cast("double").alias("avg_bal"),
            F.min("s_acctbal").cast("double").alias("min_bal"),
            F.max("s_acctbal").cast("double").alias("max_bal"),
            F.count("*").cast("long").alias("n_suppliers"),
        )
    )


@q(
    "a9_multikey_group",
    """SELECT l_returnflag, l_linestatus, l_tax,
              CAST(year(l_shipdate) AS INT) AS ship_year,
              CAST(month(l_shipdate) AS INT) AS ship_month,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
       FROM lineitem
       GROUP BY l_returnflag, l_linestatus, l_tax, year(l_shipdate), month(l_shipdate)""",
    "A9 5-key GROUP BY (clinicdata.sql:321 groups on 5 keys)",
)
def a9_multikey_group(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        "l_returnflag",
        "l_linestatus",
        "l_tax",
        F.year("l_shipdate").cast("int").alias("ship_year"),
        F.month("l_shipdate").cast("int").alias("ship_month"),
    ).agg(
        F.count("*").cast("long").alias("n"),
        _dsum(_cents("l_quantity"), 100).alias("sum_qty"),
    )


@q(
    "a10_groupby_expr",
    """SELECT date_trunc('day', o_orderdate) AS order_day,
              substr(o_orderpriority, 1, 1) AS prio_class,
              CAST(COUNT(*) AS BIGINT) AS n_orders
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY date_trunc('day', o_orderdate), substr(o_orderpriority, 1, 1)""",
    "A10 GROUP BY on expressions (logistics_AI.sql:280-283 CAST(dt AS DATE); "
    "manufacturing.sql:270 TO_DATE(open_ts))",
)
def a10_groupby_expr(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    return o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("timestamp_ntz").alias("order_day"),
        F.substring("o_orderpriority", 1, 1).alias("prio_class"),
    ).agg(F.count("*").cast("long").alias("n_orders"))


@q(
    "p9_bool_combinators",
    """SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
              CAST(l_linenumber AS BIGINT) AS l_linenumber
       FROM lineitem
       WHERE (l_returnflag = 'R' OR l_linestatus = 'O')
         AND l_quantity > 45 AND NOT (l_discount > 0.05)""",
    "P9 AND/OR/NOT combinators in WHERE (semantic_example.sql:270-271,333-334)",
)
def p9_bool_combinators(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        ((F.col("l_returnflag") == "R") | (F.col("l_linestatus") == "O"))
        & (F.col("l_quantity") > 45)
        & ~(F.col("l_discount") > 0.05)
    ).select(
        F.col("l_orderkey").cast("long").alias("l_orderkey"),
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
    )


@q(
    "j10_view_stack",
    """WITH v_customer AS (
         SELECT CAST(c_custkey AS BIGINT) AS custkey, c_mktsegment FROM customer),
       v_orders AS (
         SELECT CAST(o_orderkey AS BIGINT) AS orderkey, CAST(o_custkey AS BIGINT) AS custkey,
                CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM orders
         WHERE o_orderstatus <> 'F'),
       v_cust_orders AS (
         SELECT c.c_mktsegment, o.orderkey, o.price
         FROM v_orders o JOIN v_customer c ON o.custkey = c.custkey),
       v_segment_rev AS (
         SELECT c_mktsegment, COUNT(*) AS n_orders, SUM(price) AS revenue
         FROM v_cust_orders GROUP BY c_mktsegment)
       SELECT c_mktsegment, CAST(n_orders AS BIGINT) AS n_orders,
              CAST(revenue AS DOUBLE) AS revenue
       FROM v_segment_rev""",
    "J10 4-level view-on-view stack resolved to one plan (retail.sql:303-309; "
    "clinicdata.sql:134->219->269->311 chain; R4 view inlining)",
)
def j10_view_stack(spark, sf_dir):
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("j10_raw_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("j10_raw_orders")
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW j10_v_customer AS "
        "SELECT CAST(c_custkey AS BIGINT) AS custkey, c_mktsegment FROM j10_raw_customer"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW j10_v_orders AS "
        "SELECT CAST(o_orderkey AS BIGINT) AS orderkey, CAST(o_custkey AS BIGINT) AS custkey, "
        "CAST(o_totalprice AS DECIMAL(12,2)) AS price FROM j10_raw_orders "
        "WHERE o_orderstatus <> 'F'"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW j10_v_cust_orders AS "
        "SELECT c.c_mktsegment, o.orderkey, o.price "
        "FROM j10_v_orders o JOIN j10_v_customer c ON o.custkey = c.custkey"
    )
    spark.sql(
        "CREATE OR REPLACE TEMP VIEW j10_v_segment_rev AS "
        "SELECT c_mktsegment, COUNT(*) AS n_orders, SUM(price) AS revenue "
        "FROM j10_v_cust_orders GROUP BY c_mktsegment"
    )
    return spark.sql(
        "SELECT c_mktsegment, CAST(n_orders AS BIGINT) AS n_orders, "
        "CAST(revenue AS DOUBLE) AS revenue FROM j10_v_segment_rev"
    )


@q(
    "j11_full_outer",
    """WITH cust_orders AS (
         SELECT CAST(o_custkey AS BIGINT) AS custkey, COUNT(*) AS n_orders
         FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey),
       cust AS (
         SELECT CAST(c_custkey AS BIGINT) AS custkey, c_mktsegment
         FROM customer WHERE c_acctbal > 9000)
       SELECT COALESCE(co.custkey, c.custkey) AS custkey,
              CAST(COALESCE(co.n_orders, 0) AS BIGINT) AS n_orders,
              COALESCE(c.c_mktsegment, 'NONE') AS segment
       FROM cust_orders co FULL OUTER JOIN cust c ON co.custkey = c.custkey""",
    "Full outer join (engine extension — SURVEY §2.3 notes right/full outer "
    "absent from the reference; free in Spark). COALESCE over both null "
    "sides, the standard reconciliation shape.",
)
def j11_full_outer(spark, sf_dir):
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .groupBy(F.col("o_custkey").cast("long").alias("custkey"))
        .agg(F.count("*").alias("n_orders"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9000)
        .select(F.col("c_custkey").cast("long").alias("custkey"), "c_mktsegment")
    )
    j = o.join(c, "custkey", "full_outer")
    return j.select(
        F.col("custkey"),
        F.coalesce("n_orders", F.lit(0)).cast("long").alias("n_orders"),
        F.coalesce("c_mktsegment", F.lit("NONE")).alias("segment"),
    )


@q(
    "j12_cross_join",
    """SELECT r.r_name, n.n_name,
              CAST(r.r_regionkey = n.n_regionkey AS BOOLEAN) AS is_member
       FROM region r CROSS JOIN nation n""",
    "Explicit cross join of two small dims (engine extension; the scale "
    "rule: cross joins are only ever dim x dim — fact-side cross joins are "
    "forbidden by construction, see similarity/dedup LSH bucketing)",
)
def j12_cross_join(spark, sf_dir):
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    return r.crossJoin(n).select(
        "r_name", "n_name", (F.col("r_regionkey") == F.col("n_regionkey")).alias("is_member")
    )


@q(
    "u4_union_distinct",
    """SELECT custkey FROM (
         SELECT CAST(o_custkey AS BIGINT) AS custkey FROM orders WHERE o_totalprice > 300000
         UNION
         SELECT CAST(c_custkey AS BIGINT) AS custkey FROM customer WHERE c_acctbal > 9900)""",
    "UNION (distinct) — engine extension (reference only uses UNION ALL, "
    "SURVEY §2.7); dedup happens in the same shuffle as the union, no "
    "separate distinct pass",
)
def u4_union_distinct(spark, sf_dir):
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 300000)
        .select(F.col("o_custkey").cast("long").alias("custkey"))
    )
    c = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 9900)
        .select(F.col("c_custkey").cast("long").alias("custkey"))
    )
    return o.union(c).distinct()


@q(
    "q8_kpi_null_checks",
    """WITH kpi AS (
         SELECT n_name,
                SUM(CASE WHEN s_acctbal > 0 THEN s_acctbal END) AS pos_bal,
                COUNT(*) AS n
         FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
         GROUP BY n_name)
       SELECT n_name, CAST(n AS BIGINT) AS n_suppliers,
              CAST(pos_bal IS NULL AS BOOLEAN) AS kpi_is_null
       FROM kpi
       WHERE pos_bal IS NULL OR n < 2""",
    "Q8 KPI null/sanity check view (manufacturing.sql:367-381 — flag groups "
    "whose KPI is NULL or under-supported)",
)
def q8_kpi_null_checks(spark, sf_dir):
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    kpi = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.when(F.col("s_acctbal") > 0, F.col("s_acctbal"))).alias("pos_bal"),
            F.count("*").alias("n"),
        )
    )
    return kpi.filter(F.col("pos_bal").isNull() | (F.col("n") < 2)).select(
        "n_name",
        F.col("n").cast("long").alias("n_suppliers"),
        F.col("pos_bal").isNull().alias("kpi_is_null"),
    )


@q(
    "w5_rolling_range",
    """WITH daily AS (
         SELECT date_trunc('day', o_orderdate) AS d,
                SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS daily_rev
         FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
         GROUP BY date_trunc('day', o_orderdate))
       SELECT d, CAST(daily_rev AS DOUBLE) AS daily_rev,
              CAST(SUM(daily_rev) OVER (ORDER BY d
                     RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                   AS DOUBLE) AS rev_7d
       FROM daily""",
    "W2's gap-robust variant (SURVEY §2.5 note: 'engine should offer "
    "rangeBetween variant'): RANGE frame over the time axis — calendar gaps "
    "shrink the window instead of silently widening it like the reference's "
    "ROWS frame (retail.sql:230-240).",
)
def w5_rolling_range(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1998-01-01 00:00:00").cast("timestamp_ntz")
    )
    daily = o.groupBy(
        F.date_trunc("day", "o_orderdate").cast("timestamp_ntz").alias("d")
    ).agg(F.sum(_dec("o_totalprice")).alias("daily_rev"))
    daily.createOrReplaceTempView("w5_daily")
    # DataFrame rangeBetween needs numeric bounds; the SQL interval-range
    # frame is the idiomatic Spark form for time axes.
    return spark.sql(
        """SELECT d, CAST(daily_rev AS DOUBLE) AS daily_rev,
                  CAST(SUM(daily_rev) OVER (ORDER BY d
                         RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
                       AS DOUBLE) AS rev_7d
           FROM w5_daily"""
    )


@q(
    "w6_window_funcs",
    """SELECT CAST(o_custkey AS BIGINT) AS custkey,
              CAST(o_orderkey AS BIGINT) AS orderkey,
              CAST(ntile(4) OVER w AS BIGINT) AS quartile,
              CAST(dense_rank() OVER w AS BIGINT) AS drank,
              round(percent_rank() OVER w, 6) AS pct_rank,
              round(cume_dist() OVER w, 6) AS cume,
              CAST(COALESCE(lag(o_totalprice, 1) OVER w, 0.0) AS DOUBLE) AS prev_price
       FROM orders
       WHERE o_custkey < 200
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""",
    "W6 window-function extension battery member (SURVEY §2.5 'not "
    "present' gap: RANK/NTILE/PERCENT_RANK/CUME_DIST/LAG-default): every "
    "ranking family member over one deterministic (date, key) ordering — "
    "ONE sort per partition serves all five functions (they share the "
    "WINDOW spec, so Catalyst plans a single Window node).",
)
def w6_window_funcs(spark, sf_dir):
    from pyspark.sql import Window as W

    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 200)
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.coalesce(F.lag("o_totalprice", 1).over(w), F.lit(0.0))
        .cast("double")
        .alias("prev_price"),
    )


@q(
    "a23_stat_aggs",
    """WITH c AS (SELECT l_returnflag,
                         CAST(round(l_quantity * 100) AS BIGINT) AS q,
                         CAST(round(l_extendedprice * 100) AS BIGINT) AS p
                  FROM lineitem),
       s AS (SELECT l_returnflag,
                    COUNT(*) AS n,
                    CAST(SUM(CAST(q AS DECIMAL(38,0))) AS DOUBLE) AS sq,
                    CAST(SUM(CAST(p AS DECIMAL(38,0))) AS DOUBLE) AS sp,
                    CAST(SUM(CAST(q * q AS DECIMAL(38,0))) AS DOUBLE) AS sqq,
                    CAST(SUM(CAST(p * p AS DECIMAL(38,0))) AS DOUBLE) AS spp,
                    CAST(SUM(CAST(q * p AS DECIMAL(38,0))) AS DOUBLE) AS sqp
             FROM c GROUP BY l_returnflag)
       SELECT l_returnflag,
              CAST(n AS BIGINT) AS n,
              (sqq - sq * sq / n) / (n - 1) / 10000.0 AS var_qty,
              sqrt((spp - sp * sp / n) / (n - 1)) / 100.0 AS stddev_price,
              (CAST(n AS DOUBLE) * sqp - sq * sp)
                / sqrt((CAST(n AS DOUBLE) * sqq - sq * sq)
                       * (CAST(n AS DOUBLE) * spp - sp * sp))
                AS corr_qty_price
       FROM s""",
    "A23 dispersion statistics (engine extension; SURVEY §2.4 'not "
    "present': stddev/variance). Built-in stddev/corr accumulate doubles "
    "in partition order — bitwise-unstable across engines AND across "
    "partitionings — so these compute the moment formulas from EXACT "
    "scaled-int64 sums (the f_cast_decimal_money discipline): every input "
    "to the float ops is an exact integer, every float op is a correctly "
    "rounded IEEE op, the result is bit-identical on any engine at any "
    "partitioning. Moment sums accumulate in DECIMAL(38,0) (the _dsum "
    "discipline) — int64 would wrap near 1e19, i.e. exactly the 100 TB "
    "regime this engine targets.",
)
def a23_stat_aggs(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    c = li.select(
        "l_returnflag",
        _cents("l_quantity").alias("q"),
        _cents("l_extendedprice").alias("p"),
    )
    s = c.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        _dsum(F.col("q")).alias("sq"),
        _dsum(F.col("p")).alias("sp"),
        _dsum(F.col("q") * F.col("q")).alias("sqq"),
        _dsum(F.col("p") * F.col("p")).alias("spp"),
        _dsum(F.col("q") * F.col("p")).alias("sqp"),
    )
    n = F.col("n")
    nd = n.cast("double")
    sq, sp, sqq, spp, sqp = (F.col(x) for x in ("sq", "sp", "sqq", "spp", "sqp"))
    return s.select(
        "l_returnflag",
        n.cast("long").alias("n"),
        ((sqq - sq * sq / n) / (n - 1) / 10000.0).alias("var_qty"),
        (F.sqrt((spp - sp * sp / n) / (n - 1)) / 100.0).alias("stddev_price"),
        (
            (nd * sqp - sq * sp)
            / F.sqrt((nd * sqq - sq * sq) * (nd * spp - sp * sp))
        ).alias("corr_qty_price"),
    )


@q(
    "a17_rollup_hierarchy",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
              COALESCE(l_linestatus, 'ALL') AS linestatus,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
              CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
              CAST(GROUPING(l_linestatus) AS INT) AS g_status
       FROM lineitem
       GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
    "ROLLUP hierarchy with GROUPING() disambiguation — engine extension "
    "beyond the reference (SURVEY §2.4 notes GROUPING SETS/CUBE/ROLLUP "
    "absent); subtotal rows computed in one pass (partial-agg expansion), "
    "no per-level rescan.",
)
def a17_rollup_hierarchy(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n"),
            _dsum(_cents("l_quantity"), 100).alias("sum_qty"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n",
            "sum_qty",
            "g_flag",
            "g_status",
        )
    )


@q(
    "a19_grouping_sets",
    """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
              COALESCE(o_orderpriority, 'ALL') AS priority,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
              CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
              CAST(GROUPING(o_orderpriority) AS INT) AS g_priority
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    "A19 GROUPING SETS (engine extension; SURVEY §2.4 — present in "
    "Dremio's dialect, absent from the reference scripts): two independent "
    "one-dimension breakdowns plus the grand total in ONE scan (Expand + "
    "partial/final hash agg), not three scans unioned. Money sums via the "
    "scaled-int64 exact path. GROUPING() flags disambiguate a genuinely "
    "NULL dimension value from a subtotal row.",
)
def a19_grouping_sets(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            _dsum(_cents("o_totalprice"), 100).alias("total_value"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total_value",
            "g_status",
            "g_priority",
        )
    )


@q(
    "a20_cube",
    """SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
              CAST(COALESCE(CAST(c_nationkey AS BIGINT), -1) AS BIGINT) AS nationkey,
              CAST(COUNT(*) AS BIGINT) AS n,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS sum_bal,
              CAST(GROUPING(c_mktsegment) AS INT) + 2 * CAST(GROUPING(c_nationkey) AS INT)
                AS g_id
       FROM customer
       GROUP BY CUBE (c_mktsegment, c_nationkey)""",
    "A20 CUBE (engine extension; completes the A17/A19 multi-dimensional "
    "subtotal family): all four (segment x nation) grouping combinations "
    "in one Expand pass. The combined g_id encodes which dimensions are "
    "aggregated-away, the pattern BI tools key legends off.",
)
def a20_cube(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer")
    return (
        c.cube("c_mktsegment", "c_nationkey")
        .agg(
            F.count("*").cast("long").alias("n"),
            _dsum(_cents("c_acctbal"), 100).alias("sum_bal"),
            (
                F.grouping("c_mktsegment").cast("int")
                + F.lit(2) * F.grouping("c_nationkey").cast("int")
            ).alias("g_id"),
        )
        .select(
            F.coalesce("c_mktsegment", F.lit("ALL")).alias("segment"),
            F.coalesce(F.col("c_nationkey").cast("long"), F.lit(-1)).alias("nationkey"),
            "n",
            "sum_bal",
            "g_id",
        )
    )


@q(
    "a21_pivot",
    """SELECT o_orderpriority AS priority,
              CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS open_value,
              CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS filled_value,
              CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS partial_value
       FROM orders GROUP BY o_orderpriority""",
    "A21 PIVOT (engine extension; the reference reaches for SUM(CASE) "
    "pivots — finance_example.sql:102-107 — this is the first-class form): "
    "groupBy().pivot() with an EXPLICIT value list, which Spark compiles "
    "to exactly the one-scan conditional-aggregate plan; omitting the list "
    "would trigger a distinct-values pre-scan — never do that at 100 TB. "
    "Oracle is the equivalent SUM(CASE) spelling.",
)
def a21_pivot(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(_dsum(_cents("o_totalprice"), 100))
        .select(
            "priority",
            F.col("O").alias("open_value"),
            F.col("F").alias("filled_value"),
            F.col("P").alias("partial_value"),
        )
    )


@q(
    "a22_unpivot",
    """WITH p AS (SELECT o_orderpriority AS priority,
                CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS open_value,
                CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS filled_value,
                CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS partial_value
         FROM orders GROUP BY o_orderpriority)
       SELECT priority, status, value FROM (
         SELECT priority, 'O' AS status, open_value AS value FROM p
         UNION ALL SELECT priority, 'F', filled_value FROM p
         UNION ALL SELECT priority, 'P', partial_value FROM p)
       WHERE value IS NOT NULL""",
    "A22 UNPIVOT (engine extension, inverse of A21): wide-to-long via the "
    "native unpivot operator (one Expand pass over the wide frame — not a "
    "rescan-per-column UNION). NULL cells drop, matching ANSI UNPIVOT "
    "EXCLUDE NULLS.",
)
def a22_unpivot(spark, sf_dir):
    wide = a21_pivot(spark, sf_dir)
    code = F.create_map(
        F.lit("open_value"), F.lit("O"),
        F.lit("filled_value"), F.lit("F"),
        F.lit("partial_value"), F.lit("P"),
    )
    return (
        wide.unpivot(
            ids=["priority"],
            values=["open_value", "filled_value", "partial_value"],
            variableColumnName="measure",
            valueColumnName="value",
        )
        .filter(F.col("value").isNotNull())
        .select("priority", code[F.col("measure")].alias("status"), "value")
    )


@q(
    "e3_session_rollup",
    """WITH ordered AS (
         SELECT user_id, ts, value,
                CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          >= INTERVAL 30 MINUTE
                       OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                     THEN 1 ELSE 0 END AS new_sess
         FROM events),
       sess AS (
         SELECT user_id, ts, value,
                SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
         FROM ordered)
       SELECT CAST(user_id AS BIGINT) AS user_id,
              MIN(ts) AS session_start,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
       FROM sess GROUP BY user_id, sid""",
    "Session-window rollup: Spark's dynamic session_window (30-min gap) vs "
    "the classic gaps-and-islands SQL twin — pins the operator's merge "
    "semantics exactly (events merge while ts - prev_ts < gap; boundary "
    "equality starts a new session). Batch twin of streaming.session_rollup.",
)
def e3_session_rollup(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            _dsum(_cents("value"), 100).alias("total_value"),
        )
        .select(
            F.col("user_id").cast("long").alias("user_id"),
            F.col("w.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


@q(
    "t4_fingerprint",
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
              md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'),
                                      ' +', ' ', 'g'))) AS fingerprint
       FROM documents""",
    "T4 content-addressed document fingerprint (md5 over normalized text) — "
    "the 32-char hash-join key exact dedup uses at 100 TB instead of "
    "comparing multi-KB blobs (north-star text-analysis family; same "
    "normalization as operators/textstats; value-hash pins every digest)",
)
def t4_fingerprint(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        TS.fingerprint(F.col("text")).alias("fingerprint"),
    )


@q(
    "j13_asof_join",
    """SELECT p.event_id AS purchase_id,
              CAST(p.user_id AS BIGINT) AS user_id,
              p.ts AS purchase_ts,
              p.value AS purchase_value,
              b.ts AS prior_ts,
              b.event_id AS prior_event_id,
              b.event_type AS prior_type,
              b.value AS prior_value
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN
            (SELECT * FROM events WHERE event_type IN ('view', 'click')) b
         ON p.user_id = b.user_id AND p.ts >= b.ts""",
    "J13 as-of join (engine extension): each purchase matched to the same "
    "user's most recent prior view/click. Generalizes the reference's "
    "nearest-event window idioms (healthcare_example.sql:82-85; "
    "manufacturing.sql:288-317) into a first-class operator. Spark side is "
    "operators.asof.asof_join — union + single window, |L|+|R| shuffle "
    "volume, no candidate explosion; oracle is DuckDB's native ASOF JOIN, "
    "an independent merge-join implementation of the same semantics.",
)
def j13_asof_join(spark, sf_dir):
    from .operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(e.event_type == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    browses = e.filter(e.event_type.isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("prior_ts"),
        F.col("event_id").alias("prior_event_id"),
        F.col("event_type").alias("prior_type"),
        F.col("value").alias("prior_value"),
    )
    return asof_join(
        purchases,
        browses,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="prior_ts",
    )


@q(
    "j15_asof_split",
    """SELECT p.event_id AS purchase_id,
              CAST(p.user_id AS BIGINT) AS user_id,
              p.ts AS purchase_ts,
              b.ts AS prior_ts,
              b.event_id AS prior_event_id,
              b.value AS prior_value
       FROM (SELECT * FROM events WHERE event_type = 'purchase') p
       ASOF LEFT JOIN
            (SELECT * FROM events WHERE event_type IN ('view', 'click')) b
         ON p.user_id = b.user_id AND p.ts >= b.ts""",
    "J15 hot-key pre-split as-of join (engine extension): the same "
    "semantics as j13 but through asof_join(split_bucket_seconds=7d) — "
    "window per (user, week-bucket) plus a per-bucket carry repair — so a "
    "pathological single hot user no longer serializes into one task at "
    "100 TB. Oracle is DuckDB's native ASOF JOIN again: the driver hash "
    "pins that the split plan is value-identical to the merge-join "
    "reference, not merely to our own unsplit plan.",
)
def j15_asof_split(spark, sf_dir):
    from .operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(e.event_type == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    browses = e.filter(e.event_type.isin("view", "click")).select(
        "user_id",
        F.col("ts").alias("prior_ts"),
        F.col("event_id").alias("prior_event_id"),
        F.col("value").alias("prior_value"),
    )
    return asof_join(
        purchases,
        browses,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="prior_ts",
        split_bucket_seconds=7 * 86400.0,
    )


@q(
    "a18_percentiles",
    """SELECT l_returnflag,
              CAST(COUNT(*) AS BIGINT) AS n,
              round(CAST(quantile_cont(l_extendedprice, 0.5) AS DOUBLE), 4) AS p50_price,
              round(CAST(quantile_cont(l_extendedprice, 0.95) AS DOUBLE), 4) AS p95_price,
              round(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 4) AS p50_qty
       FROM lineitem GROUP BY l_returnflag""",
    "A18 exact percentiles per group (engine extension; SURVEY §2.4 notes "
    "the reference lacks percentile/median — standard OLAP surface). Spark "
    "percentile() and DuckDB quantile_cont both use linear interpolation at "
    "rank p*(n-1); results rounded to 4dp so the last-ulp of the two "
    "engines' interpolation arithmetic cannot flip the value hash. At "
    "100 TB swap in approx_percentile(col, p, accuracy) — same plan shape, "
    "sketch-mergeable partials instead of a per-group sort.",
)
def a18_percentiles(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("p50_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
        F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("p50_qty"),
    )


# ---------------------------------------------------------------- sampling

from .operators.sampling import (  # noqa: E402
    _threshold_hex,
    assign_split,
    sample_coord,
    split_thresholds,
    stratified_sample,
)

_SAMPLE_RATES = {"A": 0.15, "N": 0.6, "R": 0.35}
_SPLIT_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}


def _stratified_oracle() -> str:
    arms = " OR ".join(
        f"(l_returnflag = '{s}' AND coord < '{_threshold_hex(r)}')"
        for s, r in sorted(_SAMPLE_RATES.items())
    )
    return f"""WITH c AS (
         SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
                l_returnflag,
                substring(md5('smp' || '|' || CAST(l_orderkey AS VARCHAR)
                              || '|' || CAST(l_linenumber AS VARCHAR)), 1, 8)
                    AS coord
         FROM lineitem)
       SELECT l_orderkey, l_linenumber, l_returnflag, coord
       FROM c WHERE {arms}"""


def _split_oracle() -> str:
    case = "CASE"
    for name, thr in split_thresholds(_SPLIT_WEIGHTS):
        if thr is None:
            case += f" ELSE '{name}' END"
        else:
            case += f" WHEN coord < '{thr}' THEN '{name}'"
    return f"""WITH c AS (
         SELECT o_orderkey, o_custkey,
                substring(md5('split' || '|' || CAST(o_custkey AS VARCHAR)), 1, 8)
                    AS coord
         FROM orders)
       SELECT o_orderkey, o_custkey, {case} AS split FROM c"""


@q(
    "t5_stratified_sample",
    _stratified_oracle(),
    "T5 deterministic stratified sampling (north-star extension): keep "
    "15%/60%/35% per l_returnflag stratum, membership a pure function of "
    "md5(seed|key) — reproducible across runs, partitionings, and engines "
    "(the oracle recomputes the identical coordinate in DuckDB). Map-only, "
    "no shuffle, no RNG state; operators/sampling.py.",
)
def t5_stratified_sample(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    keys = ["l_orderkey", "l_linenumber"]
    return stratified_sample(li, "l_returnflag", _SAMPLE_RATES, keys).select(
        "l_orderkey",
        F.col("l_linenumber").cast("long").alias("l_linenumber"),
        "l_returnflag",
        sample_coord(keys).alias("coord"),
    )


@q(
    "t6_train_val_test",
    _split_oracle(),
    "T6 leakage-safe train/val/test assignment (north-star extension): "
    "80/10/10 by contiguous hash ranges keyed on o_custkey — the GROUPING "
    "entity, so every order of a customer lands in one split; disjoint, "
    "exhaustive, engine-portable (shared threshold table with the oracle).",
)
def t6_train_val_test(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", "o_custkey", assign_split(["o_custkey"], _SPLIT_WEIGHTS)
    )


# ---------------------------------------------------------------- skew ops

from .operators.skew import salted_join, two_phase_agg  # noqa: E402


@q(
    "sk1_salted_join",
    """SELECT o_orderpriority,
              CAST(COUNT(*) AS BIGINT) AS n_lines,
              CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       GROUP BY o_orderpriority""",
    "SK1 salted join (SURVEY §4 R5 skew lever): lineitem x orders with the "
    "fact side's hot keys spread across 16 deterministic salt buckets and "
    "the dim side replicated per salt — result must equal the plain join "
    "row-for-row, which the oracle states as the UNSALTED join. Verifies "
    "the operator's equivalence contract under the driver's value hash.",
)
def sk1_salted_join(spark, sf_dir):
    # project the fact to (key, measure) BEFORE salting: the salt hash and
    # the salted shuffle then touch two columns, not the full row
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity", "l_linenumber"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, o, key="o_orderkey", salt_buckets=16)
    return joined.groupBy("o_orderpriority").agg(
        F.count("*").cast("long").alias("n_lines"),
        _dsum(_cents("l_quantity"), 100).alias("sum_qty"),
    )


@q(
    "sk2_two_phase_agg",
    """SELECT event_type,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
       FROM events GROUP BY event_type""",
    "SK2 two-phase (salted partial -> final) aggregation: decomposable "
    "aggregates partial-agg on (key, salt) then combine on key, so no task "
    "ever owns a whole hot group. Oracle is the plain one-phase GROUP BY — "
    "the equivalence contract, exact via scaled-decimal money sums.",
)
def sk2_two_phase_agg(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return two_phase_agg(
        e,
        ["event_type"],
        {
            "n_events": (F.count("*").cast("long"), "sum"),
            "total_dec": (F.sum(_dec("value")), "sum"),
        },
        salt_buckets=16,
    ).select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("total_dec").cast("double").alias("total_value"),
    )


@q(
    "f_json_funcs",
    """SELECT event_id,
              json_extract_string(props, '$.k') AS k_str,
              CAST(json_extract(props, '$.k') AS BIGINT) AS k_num,
              CAST(json_valid(props) AS BIGINT) AS is_valid,
              CAST(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                        THEN 1 ELSE 0 END AS BIGINT) AS k_high
       FROM events WHERE event_id < 2000""",
    "F-JSON scalar family (engine extension; SURVEY §2.8 notes the "
    "reference has no JSON functions, but semi-structured props columns "
    "are standard event-pipeline surface): string/number extraction by "
    "JSONPath, validity flag, derived predicate — Spark get_json_object/"
    "from_json vs DuckDB json_extract, all JVM-side codegen.",
)
def f_json_funcs(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    k_num = F.get_json_object("props", "$.k").cast("long")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        k_num.alias("k_num"),
        # props rows are either valid JSON objects or not parseable at all:
        # from_json yields a null struct exactly when parsing fails
        F.from_json("props", "k LONG").isNotNull().cast("long").alias("is_valid"),
        F.when(k_num > 50, F.lit(1)).otherwise(F.lit(0)).cast("long").alias("k_high"),
    )


# DuckDB twin of operators.textstats.tokens over the documents.text column
# (same normalization contract as queries_data._TOKS)
_TOKS_DOC = (
    "list_filter(regexp_split_to_array(trim(regexp_replace(regexp_replace("
    "lower(text), '[^a-z ]', ' ', 'g'), ' +', ' ', 'g')), ' '), x -> x <> '')"
)


@q(
    "t8_vocab_topk",
    f"""WITH tok AS (SELECT doc_id, unnest({_TOKS_DOC}) AS w FROM documents),
       tf AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS term_freq,
                     CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_freq
              FROM tok GROUP BY w)
       SELECT CAST(row_number() OVER (ORDER BY term_freq DESC, w ASC) AS BIGINT)
                  AS rank,
              w AS token, term_freq, doc_freq
       FROM tf ORDER BY term_freq DESC, w ASC LIMIT 50""",
    "T8 corpus vocabulary statistics (engine extension): top-50 tokens by "
    "term frequency with document frequency — the standard corpus-analysis "
    "pass before vocab/tokenizer decisions. Explode -> partial-aggregated "
    "count (map-side combine) -> global top-k via TakeOrderedAndProject; "
    "ties broken lexicographically so the ranking is total and the value "
    "hash pins it.",
)
def t8_vocab_topk(spark, sf_dir):
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(TS.tokens(F.col("text"))).alias("w"))
    tf = tok.groupBy("w").agg(
        F.count("*").cast("long").alias("term_freq"),
        F.countDistinct("doc_id").cast("long").alias("doc_freq"),
    )
    top = tf.orderBy(F.desc("term_freq"), F.asc("w")).limit(50)
    w = Window.orderBy(F.desc("term_freq"), F.asc("w"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("w").alias("token"),
        "term_freq",
        "doc_freq",
    )


@q(
    "t16_lm_perplexity",
    f"""WITH tok AS (SELECT doc_id, {_TOKS_DOC} AS ws FROM documents),
       bg AS (SELECT doc_id,
                     unnest(ws[1:len(ws)-1]) AS w1,
                     unnest(ws[2:len(ws)]) AS w2
              FROM tok),
       c12 AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
       c1 AS (SELECT w1, SUM(c) AS nctx FROM c12 GROUP BY w1),
       vocab AS (SELECT COUNT(DISTINCT w) AS v
                 FROM (SELECT unnest(ws) AS w FROM tok) u),
       sc AS (SELECT bg.doc_id,
                     CAST(round(ln(
                         (CAST(c12.c AS DOUBLE) + 1.0)
                         / (CAST(c1.nctx AS DOUBLE) + 1.0 * CAST(vocab.v AS DOUBLE))
                     ) * 1000000) AS BIGINT) AS lpq
              FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
              CROSS JOIN vocab),
       d AS (SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lpq) AS s
             FROM sc GROUP BY doc_id),
       ce AS (SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
                     round(-CAST(s AS DOUBLE)
                           / (CAST(n_bigrams AS DOUBLE) * 1000000.0), 6)
                         AS log_ppl
              FROM d)
       SELECT CAST(doc_id AS BIGINT) AS doc_id, n_bigrams, log_ppl,
              CASE ntile(3) OVER (ORDER BY log_ppl, doc_id)
                   WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
              END AS bucket
       FROM ce""",
    "T16 CCNet-style LM quality filtering (engine extension; Wenzek et "
    "al. 2020): bigram LM with add-1 smoothing self-trained on the "
    "corpus, per-document cross-entropy, head/middle/tail split by exact "
    "global tertiles — the CCNet keep/review/drop decision. Log-probs are "
    "rationals of exact counts quantized HALF_UP at 1e-6 and summed as "
    "int64 (accumulation-order-free), so the DuckDB replay is "
    "bit-identical; the tertile rank is a parallel prefix rank (range "
    "shuffle + broadcast offset map), matched by the oracle's NTILE over "
    "the same rounded total order.",
)
def t16_lm_perplexity(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return TS.lm_perplexity(d)


# BM25 hyperparameters + query terms, shared by the Spark side and the
# DuckDB oracle (terms exist in the synthetic documents corpus)
_BM25_TERMS = ("spark", "vector", "stream")
_BM25_K1, _BM25_B = 1.2, 0.75


def _bm25_ranked_sql(n: int) -> str:
    """DuckDB replay of textstats.bm25_topk over documents with the shared
    hyperparameters: the ranked top-``n`` as (rank, doc_id, score_q6).
    Factored so the hybrid-retrieval oracle reuses the identical lexical
    side at a different depth."""
    return f"""WITH tok AS (SELECT doc_id, unnest({_TOKS_DOC}) AS w FROM documents),
       dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
       stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl
                 FROM dl),
       tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM tok
              WHERE w IN {_BM25_TERMS!r} GROUP BY doc_id, w),
       dft AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS df
               FROM tf GROUP BY w),
       sc AS (SELECT tf.doc_id,
                     CAST(round(
                         ln(1.0 + (stats.n_docs - dft.df + 0.5)
                                  / (dft.df + 0.5))
                         * ((CAST(tf.tf AS DOUBLE) * ({_BM25_K1} + 1.0))
                            / (CAST(tf.tf AS DOUBLE)
                               + {_BM25_K1} * (1.0 - {_BM25_B}
                                  + {_BM25_B} * CAST(dl.dl AS DOUBLE)
                                    / stats.avgdl)))
                         * 1000000) AS BIGINT) AS pt
              FROM tf JOIN dft USING (w) JOIN dl USING (doc_id)
              CROSS JOIN stats),
       agg AS (SELECT doc_id, SUM(pt) AS score_q6 FROM sc GROUP BY doc_id)
       SELECT CAST(row_number() OVER (ORDER BY score_q6 DESC, doc_id ASC)
                   AS BIGINT) AS rank,
              CAST(doc_id AS BIGINT) AS doc_id,
              CAST(score_q6 AS BIGINT) AS score_q6
       FROM agg ORDER BY score_q6 DESC, doc_id ASC LIMIT {n}"""


@q(
    "t17_bm25_topk",
    _bm25_ranked_sql(20),
    "T17 Okapi BM25 lexical retrieval (engine extension; Robertson & "
    "Zaragoza 2009, Lucene idf variant): top-20 documents for a fixed "
    "bag-of-terms query — the lexical complement of the s* embedding-KNN "
    "family. Per-(doc,term) scores are quantized HALF_UP at 1e-6 and "
    "summed as int64 (accumulation-order-free, the t16 exactness "
    "contract); ties break on doc_id. Plan: explode -> partial-aggregated "
    "tf/df/dl counts, broadcast df table + (N, avgdl) scalars, "
    "TakeOrderedAndProject top-k — no UDFs, no driver collect.",
)
def t17_bm25_topk(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return TS.bm25_topk(
        d, list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B, n=20
    )


@q(
    "s13_bm25_persisted",
    _bm25_ranked_sql(20),
    "Persisted BM25 inverted index (operators/text_index.py, the lexical "
    "twin of s12's ANN index): postings (w, doc_id, tf) range-clustered + "
    "sorted on the term so file-level min/max stats prune a query's "
    "postings scan to its own terms, plus a (doc_id, dl) doclen table. "
    "bm25_query recomputes (N, avgdl, df) from the persisted tables and "
    "serves scores bit-identical to the one-shot t17 oracle — the corpus "
    "text is never touched at query time; refresh_text_index applies the "
    "source's change feed (O(delta): it tokenizes only inserted docs and "
    "position-deletes deleted ones).",
)
def s13_bm25_persisted(spark, sf_dir):
    import tempfile

    from .operators import text_index as TX
    from .plans import Lakehouse

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake = Lakehouse(spark, tempfile.mkdtemp(prefix="sg-txtidx-"))
    lake.create_table_as("tx.documents", d)
    TX.build_text_index(lake, "tx.documents", "tx.idx")
    assert TX.refresh_text_index(lake, "tx.idx")["mode"] == "noop"
    return TX.bm25_query(
        lake, "tx.idx", list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B, n=20
    )


@q(
    "t18_dsir_select",
    f"""WITH tok AS (SELECT doc_id, unnest({_TOKS_DOC}) AS w FROM documents),
       tb AS (SELECT doc_id, substr(md5('dsir|' || w), 1, 2) AS b FROM tok),
       raw AS (SELECT b, COUNT(*) AS c_raw FROM tb GROUP BY b),
       tgt AS (SELECT tb.b, COUNT(*) AS c_tgt
               FROM tb JOIN documents d USING (doc_id)
               WHERE d.lang = 'en' GROUP BY tb.b),
       r AS (SELECT raw.b, c_raw, COALESCE(c_tgt, 0) AS c_tgt
             FROM raw LEFT JOIN tgt USING (b)),
       tot AS (SELECT SUM(c_raw) AS t_raw, SUM(c_tgt) AS t_tgt FROM r),
       lr AS (SELECT b,
                     CAST(round(ln(
                         CAST((c_tgt + 1) * (t_raw + 256) AS DOUBLE)
                         / CAST((c_raw + 1) * (t_tgt + 256) AS DOUBLE)
                     ) * 1000000) AS BIGINT) AS lr_q6
              FROM r CROSS JOIN tot),
       sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
                     SUM(lr_q6) AS weight_q6
              FROM tb JOIN lr USING (b) GROUP BY doc_id)
       SELECT CAST(row_number() OVER (ORDER BY weight_q6 DESC, doc_id ASC)
                   AS BIGINT) AS rank,
              CAST(doc_id AS BIGINT) AS doc_id, n_tokens,
              CAST(weight_q6 AS BIGINT) AS weight_q6
       FROM sc ORDER BY weight_q6 DESC, doc_id ASC LIMIT 100""",
    "T18 DSIR data selection (engine extension; Xie et al. 2023): rank "
    "documents by hashed-unigram importance weight of a TARGET "
    "distribution (the lang='en' subset) vs the RAW corpus — the "
    "select-pretraining-data-like-the-target pass. 256 md5-prefix "
    "feature buckets (the portable-hash contract), add-1 smoothing as "
    "ONE ln over a ratio of exact int64 products quantized at 1e-6, "
    "per-doc int64 sums, top-100 via TakeOrderedAndProject — the DuckDB "
    "oracle replays feature hashing, smoothing, and ranking "
    "bit-for-bit.",
)
def t18_dsir_select(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return TS.dsir_topk(d, "lang = 'en'", n=100)


@q(
    "t19_token_ids",
    f"""WITH tok AS (SELECT doc_id, {_TOKS_DOC} AS ws FROM documents),
       tokp AS (SELECT doc_id, unnest(ws) AS w,
                       unnest(range(1, len(ws) + 1)) AS pos
                FROM tok WHERE len(ws) > 0),
       counts AS (SELECT w, COUNT(*) AS c FROM tokp GROUP BY w),
       vocab AS (SELECT w,
                        CAST(row_number() OVER (ORDER BY c DESC, w ASC)
                             AS BIGINT) AS tid
                 FROM counts ORDER BY c DESC, w ASC LIMIT 1000),
       enc AS (SELECT doc_id, pos, COALESCE(tid, 0) AS tid
               FROM tokp LEFT JOIN vocab USING (w))
       SELECT CAST(doc_id AS BIGINT) AS doc_id,
              CAST(COUNT(*) AS BIGINT) AS n_tokens,
              CAST(SUM(CASE WHEN tid = 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_oov,
              md5(string_agg(CAST(tid AS VARCHAR), ',' ORDER BY pos))
                  AS ids_md5
       FROM enc GROUP BY doc_id""",
    "T19 vocabulary-id encoding (engine extension): tokens -> ids under "
    "the corpus top-1000 vocabulary (frequency rank, lexicographic ties), "
    "OOV -> 0 — the step between vocab stats (t8) and sequence packing "
    "(t13) in an LM data-prep chain. ids_md5 fingerprints the ORDERED id "
    "sequence so the driver hash pins per-position encoding, not just "
    "counts. Plan: partial-agg counts, top-V heap broadcast back, "
    "map-side encode, per-doc array_sort rebuild — no global sort, no "
    "UDFs.",
)
def t19_token_ids(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return TS.encode_token_ids(d, vocab_size=1000)


def _knn_ranked_sql(query_vec_id: int, n: int) -> str:
    """DuckDB replay of similarity.knn_bruteforce for ONE query vector:
    the ranked top-``n`` as (rank, doc_id) with the s1 quantized-int64
    dot-product contract (vec_id aligns with documents.doc_id)."""
    from .queries_data import _QVEC

    return f"""WITH v AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
       nv AS (SELECT vec_id, qv,
                     (SELECT SUM(qv[t.i] * qv[t.i]) FROM range(1, 65) t(i)) AS nrm
              FROM v),
       p AS (SELECT a.vec_id AS cand_id,
                    (SELECT SUM(a.qv[t.i] * b.qv[t.i]) FROM range(1, 65) t(i)) AS dot,
                    a.nrm AS na, b.nrm AS nb
             FROM nv a, nv b
             WHERE b.vec_id = {query_vec_id} AND a.vec_id <> b.vec_id),
       s AS (SELECT cand_id,
                    round(CASE WHEN na > 0 AND nb > 0
                               THEN CAST(dot AS DOUBLE)
                                    / sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                               ELSE 0.0 END, 6) AS cosine_sim
             FROM p)
       SELECT CAST(rnk AS BIGINT) AS rank, CAST(cand_id AS BIGINT) AS doc_id
       FROM (SELECT *, row_number() OVER (ORDER BY cosine_sim DESC, cand_id)
                        AS rnk
             FROM s) t
       WHERE rnk <= {n}"""


_RRF_K, _RRF_DEPTH = 60, 50


@q(
    "s10_hybrid_rrf",
    f"""WITH lex AS ({_bm25_ranked_sql(_RRF_DEPTH)}),
       sem AS ({_knn_ranked_sql(0, _RRF_DEPTH)}),
       pts AS (SELECT doc_id,
                      CAST(round(1000000.0 / ({_RRF_K} + rank)) AS BIGINT) AS pt
               FROM lex
               UNION ALL
               SELECT doc_id,
                      CAST(round(1000000.0 / ({_RRF_K} + rank)) AS BIGINT) AS pt
               FROM sem),
       agg AS (SELECT doc_id, SUM(pt) AS rrf_q6,
                      CAST(COUNT(*) AS BIGINT) AS n_systems
               FROM pts GROUP BY doc_id)
       SELECT CAST(row_number() OVER (ORDER BY rrf_q6 DESC, doc_id ASC)
                   AS BIGINT) AS rank,
              CAST(doc_id AS BIGINT) AS doc_id,
              CAST(rrf_q6 AS BIGINT) AS rrf_q6, n_systems
       FROM agg ORDER BY rrf_q6 DESC, doc_id ASC LIMIT 20""",
    "S10 hybrid retrieval via reciprocal-rank fusion (engine extension; "
    "Cormack et al. 2009): the t17 BM25 lexical top-50 fused with the s1 "
    "brute-force embedding top-50 for query document 0 — the standard "
    "hybrid-search combiner (rank-based, needs no score calibration). "
    "Per-list contributions 1/(60+rank) are quantized HALF_UP at 1e-6 and "
    "summed as int64 (accumulation-order-free); ties break on doc_id. "
    "Fusion cost is O(list lengths) — union + partial-agg groupBy + "
    "TakeOrderedAndProject — independent of corpus size.",
)
def s10_hybrid_rrf(spark, sf_dir):
    from .operators import similarity as SIM

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = TS.bm25_topk(
        d, list(_BM25_TERMS), k1=_BM25_K1, b=_BM25_B, n=_RRF_DEPTH
    )
    sem = SIM.knn_bruteforce(
        emb, emb.filter(F.col("vec_id") == 0), k=_RRF_DEPTH
    ).select(F.col("cand_id").alias("doc_id"), "rank")
    return SIM.rrf_fuse(
        [lex.select("doc_id", "rank"), sem], k=_RRF_K, n=20
    )


def _hybrid_persisted_oracle() -> str:
    """DuckDB twin of s14: the t17-style BM25 replay at depth 50 fused
    (RRF) with the s7-style IVF×PQ replay's query-0 list at depth 50 —
    the persisted-index serving path is bit-exact vs the one-shots, so
    the oracle fuses the ONE-SHOT replays."""
    from .queries_data import _ivfpq_oracle

    return f"""WITH lex AS ({_bm25_ranked_sql(_RRF_DEPTH)}),
       semall AS ({_ivfpq_oracle(k=_RRF_DEPTH)}),
       sem AS (SELECT CAST(cand_id AS BIGINT) AS doc_id, rank
               FROM semall WHERE query_id = 0),
       pts AS (SELECT doc_id,
                      CAST(round(1000000.0 / ({_RRF_K} + rank)) AS BIGINT) AS pt
               FROM lex
               UNION ALL
               SELECT doc_id,
                      CAST(round(1000000.0 / ({_RRF_K} + rank)) AS BIGINT) AS pt
               FROM sem),
       agg AS (SELECT doc_id, SUM(pt) AS rrf_q6,
                      CAST(COUNT(*) AS BIGINT) AS n_systems
               FROM pts GROUP BY doc_id)
       SELECT CAST(row_number() OVER (ORDER BY rrf_q6 DESC, doc_id ASC)
                   AS BIGINT) AS rank,
              CAST(doc_id AS BIGINT) AS doc_id,
              CAST(rrf_q6 AS BIGINT) AS rrf_q6, n_systems
       FROM agg ORDER BY rrf_q6 DESC, doc_id ASC LIMIT 20"""


@q(
    "s14_hybrid_persisted",
    _hybrid_persisted_oracle(),
    "S14 hybrid retrieval served END-TO-END from persisted indexes (r9 "
    "'next' #5): the BM25 inverted index's top-50 for the shared terms "
    "fused (reciprocal-rank fusion, k=60) with the persisted IVF×PQ ANN "
    "index's top-50 for query document 0 — the corpus text/vectors are "
    "never touched at query time (postings file-pruned to the query's "
    "terms; ADC over persisted codes with broadcast codebooks). Both "
    "index paths are bit-exact vs their one-shots (s12/s13 contracts), "
    "so the oracle fuses the one-shot DuckDB replays; fusion itself is "
    "O(list lengths): union + partial-agg + TakeOrderedAndProject.",
)
def s14_hybrid_persisted(spark, sf_dir):
    import tempfile

    from .operators import ann_index as AX
    from .operators import similarity as SIM
    from .operators import text_index as TX
    from .plans import Lakehouse

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lake = Lakehouse(spark, tempfile.mkdtemp(prefix="sg-hybrid-"))
    lake.create_table_as("hy.documents", d)
    lake.create_table_as("hy.embeddings", emb)
    TX.build_text_index(lake, "hy.documents", "hy.tidx")
    AX.build_ann_index(
        lake, "hy.embeddings", "hy.aidx",
        dim=64, m_sub=4, k_codes=16, n_cells=16,
    )
    lex = TX.bm25_query(
        lake, "hy.tidx", list(_BM25_TERMS),
        k1=_BM25_K1, b=_BM25_B, n=_RRF_DEPTH,
    ).select("doc_id", "rank")
    sem = AX.ann_query(
        lake, "hy.aidx", emb.filter(F.col("vec_id") == 0),
        k=_RRF_DEPTH, nprobe=4,
    ).select(F.col("cand_id").alias("doc_id"), "rank")
    return SIM.rrf_fuse([lex, sem], k=_RRF_K, n=20)


def _rerank_persisted_oracle() -> str:
    from .queries_data import _two_stage_oracle

    return _two_stage_oracle()


@q(
    "s16_rerank_persisted",
    _rerank_persisted_oracle(),
    "S16 two-stage retrieval served from the PERSISTED index (FAISS "
    "IndexRefineFlat as a serving path): stage 1 recalls top-20 per "
    "query from the persisted IVF×PQ codes (file-pruned, broadcast ADC, "
    "no training at query time), stage 2 re-ranks only those candidates "
    "by exact cosine against the source table's raw vectors at the "
    "indexed snapshot — |Q|·m id-keyed probes, never a corpus scan. "
    "Deterministic quantizer training makes the persisted path "
    "row-identical to the s11 one-shot, so the oracle is the same "
    "two-stage DuckDB replay.",
)
def s16_rerank_persisted(spark, sf_dir):
    import tempfile

    from .operators import ann_index as AX
    from .plans import Lakehouse

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 10)
    lake = Lakehouse(spark, tempfile.mkdtemp(prefix="sg-rerank-"))
    lake.create_table_as("rr.embeddings", emb)
    AX.build_ann_index(
        lake, "rr.embeddings", "rr.aidx",
        dim=64, m_sub=4, k_codes=16, n_cells=16,
    )
    return AX.ann_query_rerank(lake, "rr.aidx", queries, k=5, recall_m=20)


@q(
    "s15_auto_index_serve",
    _bm25_ranked_sql(20),
    "S15 autonomous index lifecycle end-to-end under the driver gate "
    "(r10 judge 'next' #5): the bm25_search TVF spelled against the BASE "
    "documents table serves one-shot while the advisor fingerprints the "
    "repeated shape; after min_count repeats accelerate() materializes "
    "the recommended text index via the standard builder, and the SAME "
    "spelling then serves from the persisted postings (term-pruned, "
    "driver-side term stats). The returned frame is the INDEX-SERVED "
    "ranking; the oracle is the one-shot BM25 replay — the s13 "
    "bit-exactness contract is what makes the whole observe→recommend→"
    "accelerate→serve loop externally verifiable.",
)
def s15_auto_index_serve(spark, sf_dir):
    import tempfile

    from .plans import Lakehouse

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake = Lakehouse(spark, tempfile.mkdtemp(prefix="sg-autoidx-"))
    lake.create_table_as("ai.documents", d)
    sql = (
        "SELECT rank, doc_id, score_q6 "
        "FROM TABLE(bm25_search('ai.documents', 'spark vector stream', 20))"
    )
    lake.run_script("SELECT 1 AS one")  # materialize the script runner
    runner = lake._script_runner
    _ = runner.advisor  # turn shape observation on
    # the driver fixture is 500 docs — scale the benefit gate's serve
    # floor to it so the cost arithmetic (hits x (rows - floor) >= one
    # build pass) still decides the build; the production default ~20k
    # reflects the measured serve floor / one-shot scan rate
    runner.advisor.index_serve_floor_rows = 50
    for _i in range(3):  # min_count repeats of the same search shape
        lake.run_script(sql).collect()
    created = runner.accelerate()
    if not any("auto_textidx" in c for c in created):
        raise AssertionError(f"advisor did not build the text index: {created}")
    served = lake.run_script(sql)
    if not lake.table_exists("ai.auto_textidx_documents_text_postings"):
        raise AssertionError("served result did not come from a persisted index")
    return served


@q(
    "j14_asof_forward",
    """WITH j AS (
         SELECT p.event_id AS purchase_id,
                CAST(p.user_id AS BIGINT) AS user_id,
                p.ts AS purchase_ts,
                e.ts AS next_err_ts,
                e.event_id AS next_err_id,
                e.value AS next_err_value
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
           ON p.user_id = e.user_id AND p.ts <= e.ts)
       SELECT purchase_id, user_id, purchase_ts,
              CASE WHEN next_err_ts - purchase_ts <= INTERVAL 2 HOUR
                   THEN next_err_ts END AS next_err_ts,
              CASE WHEN next_err_ts - purchase_ts <= INTERVAL 2 HOUR
                   THEN next_err_id END AS next_err_id,
              CASE WHEN next_err_ts - purchase_ts <= INTERVAL 2 HOUR
                   THEN next_err_value END AS next_err_value
       FROM j""",
    "J14 forward as-of with tolerance (engine extension): each purchase "
    "matched to the same user's NEXT error event, nulled when farther "
    "than 2 hours (pandas merge_asof tolerance semantics — the row "
    "survives). Pins operators/asof.py's forward direction and tolerance "
    "path under the driver gate; oracle is DuckDB ASOF with the "
    "inequality flipped plus an interval guard.",
)
def j14_asof_forward(spark, sf_dir):
    from .operators.asof import asof_join

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(e.event_type == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").cast("long").alias("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    errors = e.filter(e.event_type == "error").select(
        "user_id",
        F.col("ts").alias("next_err_ts"),
        F.col("event_id").alias("next_err_id"),
        F.col("value").alias("next_err_value"),
    )
    return asof_join(
        purchases,
        errors,
        on=["user_id"],
        left_ts="purchase_ts",
        right_ts="next_err_ts",
        direction="forward",
        tolerance=F.expr("INTERVAL 2 HOURS"),
    )


@q(
    "a24_histogram",
    """WITH b AS (SELECT CAST(CASE WHEN l_extendedprice >= 60000 THEN 19
                               ELSE floor(l_extendedprice / 3000.0) END AS BIGINT)
                    AS bucket
                  FROM lineitem)
       SELECT bucket,
              CAST(bucket * 3000 AS DOUBLE) AS lo,
              CAST(CASE WHEN bucket = 19 THEN 'inf'
                        ELSE CAST(CAST((bucket + 1) * 3000 AS BIGINT) AS VARCHAR)
                   END AS VARCHAR) AS hi,
              CAST(COUNT(*) AS BIGINT) AS n
       FROM b GROUP BY bucket""",
    "A24 fixed-width histogram (engine extension; the profiling primitive "
    "behind every data-quality dashboard): 20 x 3000-unit price buckets "
    "with an overflow bucket, computed as floor arithmetic identical in "
    "both engines (width_bucket variants differ on boundary semantics "
    "across engines; explicit floor does not). One partial-aggregated "
    "scan — the histogram of 100 TB costs one pass.",
)
def a24_histogram(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    bucket = F.when(F.col("l_extendedprice") >= 60000, F.lit(19)).otherwise(
        F.floor(F.col("l_extendedprice") / 3000.0)
    ).cast("long")
    return (
        li.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            "bucket",
            (F.col("bucket") * 3000).cast("double").alias("lo"),
            F.when(F.col("bucket") == 19, F.lit("inf"))
            .otherwise(((F.col("bucket") + 1) * 3000).cast("long").cast("string"))
            .alias("hi"),
            "n",
        )
    )


# ------------------------------------------------------------- R7 routing


@q(
    "r2_routed_raw",
    """SELECT c_custkey, c_name, c_acctbal
       FROM customer
       WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000
       ORDER BY c_custkey
       LIMIT 100""",
    "R7 RAW-reflection routing END TO END under the value hash — the "
    "workshop's literal headline acceleration (`customer_spend_reflection "
    "USING RAW`, readme.md:320-326, serving subsequent non-aggregate "
    "queries readme.md:331-355): declare a DISPLAY-subset RAW reflection "
    "on a lakeshim copy of customer through the SQL surface, then run a "
    "never-before-seen projection + filter + ORDER BY + LIMIT which the "
    "advisor routes to the materialized raw rows (asserted: the plan "
    "scans reflection storage). The oracle recomputes from the raw "
    "parquet — value equality proves RAW substitution exact. ORDER BY the "
    "unique key keeps the LIMIT deterministic across engines.",
)
def r2_routed_raw(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from .plans import Lakehouse
    from .plans.script import ScriptRunner

    cust = load_table(spark, sf_dir, "customer")
    # mkdtemp (not TemporaryDirectory): the returned DataFrame is evaluated
    # lazily by the caller AFTER this function exits (same pattern as r1)
    wh = tempfile.mkdtemp(prefix="rawrefl_wh_")
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    lake = Lakehouse(spark, wh)
    lake.create_table_as("r7.customer", cust)
    r = ScriptRunner(lake)
    r.run(
        "ALTER DATASET r7.customer CREATE RAW REFLECTION cust_raw "
        "USING DISPLAY (c_custkey, c_name, c_acctbal, c_mktsegment)"
    )
    r.use_reflection_routing = True
    out = r.run(
        "SELECT c_custkey, c_name, c_acctbal FROM r7.customer "
        "WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 1000 "
        "ORDER BY c_custkey LIMIT 100"
    )
    assert any(
        "_reflections" in f for f in out.inputFiles()
    ), "fresh covering RAW reflection must serve the scan"
    return out


@q(
    "r3_routed_raw_join",
    """SELECT c_name AS cust_name, o_orderkey, o_totalprice
       FROM customer JOIN orders ON o_custkey = c_custkey
       WHERE o_totalprice > 200000
       ORDER BY o_orderkey
       LIMIT 100""",
    "R8 join-shape covered-query matching for RAW reflections — the last "
    "spelling of Dremio's 'accelerates any query it covers' "
    "(readme.md:331-355): a RAW reflection registered on a projection-"
    "over-join VIEW serves a query that spells the SAME join EXPLICITLY, "
    "with different table order, different aliases, and the equi-key "
    "sides swapped (canonical join-subtree identity). The oracle "
    "recomputes the join from the raw parquet rows — value equality "
    "proves the substitution exact. ORDER BY the unique key keeps the "
    "LIMIT deterministic across engines.",
)
def r3_routed_raw_join(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from .plans import Lakehouse
    from .plans.script import ScriptRunner

    wh = tempfile.mkdtemp(prefix="rawjoin_wh_")
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    lake = Lakehouse(spark, wh)
    lake.create_table_as(
        "r8.customer",
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name"
        ),
    )
    lake.create_table_as(
        "r8.orders",
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
    )
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE OR REPLACE VIEW r8.cust_orders AS
          SELECT c.c_name AS cust_name, o.o_orderkey, o.o_totalprice
          FROM r8.customer c
          JOIN r8.orders o ON c.c_custkey = o.o_custkey;
        ALTER DATASET r8.cust_orders CREATE RAW REFLECTION co_raw USING RAW;
        """
    )
    r.use_reflection_routing = True
    # table order swapped, fresh aliases, key sides reversed vs the view
    out = r.run(
        "SELECT y.c_name AS cust_name, x.o_orderkey, x.o_totalprice "
        "FROM r8.orders x JOIN r8.customer y ON x.o_custkey = y.c_custkey "
        "WHERE x.o_totalprice > 200000 "
        "ORDER BY x.o_orderkey LIMIT 100"
    )
    assert any(
        "_reflections" in f for f in out.inputFiles()
    ), "explicitly spelled join must be served by the RAW join reflection"
    return out


@q(
    "r4_changelog_rename",
    """WITH base AS (
         SELECT o_orderkey AS k, o_totalprice AS price
         FROM orders WHERE o_orderkey % 10 < 5),
       app AS (
         SELECT o_orderkey AS k, o_totalprice AS price
         FROM orders WHERE o_orderkey % 10 IN (5, 6)),
       after_del AS (
         SELECT * FROM (SELECT * FROM base UNION ALL SELECT * FROM app)
         WHERE price >= 50000),
       ups AS (
         SELECT o_orderkey AS k, o_totalprice + 1 AS price
         FROM orders WHERE o_orderkey % 10 = 3),
       new_state AS (
         SELECT * FROM after_del WHERE k % 10 <> 3
         UNION ALL SELECT * FROM ups),
       d AS (
         SELECT k, price, SUM(w) AS dd FROM (
           SELECT k, price, 1 AS w FROM new_state
           UNION ALL SELECT k, price, -1 AS w FROM base)
         GROUP BY k, price HAVING SUM(w) <> 0),
       x AS (
         SELECT k, price,
                CASE WHEN dd > 0 THEN 'insert' ELSE 'delete' END AS ct
         FROM d),
       p AS (
         SELECT k, price, ct,
                SUM(CASE WHEN ct = 'delete' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY k) AS nd,
                SUM(CASE WHEN ct = 'insert' THEN 1 ELSE 0 END)
                    OVER (PARTITION BY k) AS ni
         FROM x)
       SELECT k, price,
              CASE WHEN nd = 1 AND ni = 1 AND ct = 'delete'
                     THEN 'update_preimage'
                   WHEN nd = 1 AND ni = 1 AND ct = 'insert'
                     THEN 'update_postimage'
                   ELSE ct END AS change_type
       FROM p""",
    "R8 CDC-out changelog END TO END under the value hash, over a RENAME-"
    "spanning DML history: base load -> append -> merge-on-read DELETE -> "
    "RENAME COLUMN -> equality upsert, then read_changes(base, current) "
    "with declared key columns. The oracle recomputes the net multiset "
    "diff (and the same unambiguous update_preimage/update_postimage "
    "pairing) from the raw parquet rows in pure SQL — value equality "
    "proves the changelog exact across the schema evolution, including "
    "the epoch-aligned read of the pre-rename snapshot.",
)
def r4_changelog_rename(spark, sf_dir):
    import atexit
    import shutil
    import tempfile

    from .plans import Lakehouse

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").alias("amount"),
    )
    wh = tempfile.mkdtemp(prefix="cdc_wh_")
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    lake = Lakehouse(spark, wh)
    t = lake.create_table_as("cdc.orders", orders.filter(F.col("k") % 10 < 5))
    s0 = t._load_meta()["current_snapshot_id"]
    t.append(orders.filter((F.col("k") % 10).isin(5, 6)))
    t.delete_where("amount < 50000", mode="merge-on-read")
    t.rename_column("amount", "price")
    t.upsert_equality(
        orders.filter(F.col("k") % 10 == 3).select(
            "k", (F.col("amount") + 1).alias("price")
        ),
        "k",
    )
    return t.read_changes(s0, key_cols=["k"]).select(
        "k", "price", F.col("_change_type").alias("change_type")
    )


@q(
    "r1_routed_reflection",
    """SELECT o_orderpriority AS pri,
              CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                  AS total_c,
              CAST(COUNT(o_totalprice) AS BIGINT) AS n
       FROM orders
       WHERE o_orderstatus = 'F'
       GROUP BY o_orderpriority""",
    "R7 covered-query reflection substitution END TO END under the value "
    "hash: materialize an AGGREGATE reflection (exact scaled-int partials) "
    "on a lakehouse copy of orders, then serve a dim-SUBSET query with a "
    "WHERE over a dimension column by filtering the stored partials and "
    "re-aggregating (Dremio's 'accelerates any query it covers', "
    "readme.md:331-355). The oracle recomputes the same answer from the "
    "raw rows — value equality proves the rollup algebra + filter routing "
    "exact, not just fast. Int64 money partials make the sums "
    "bit-identical across engines.",
)
def r1_routed_reflection(spark, sf_dir):
    import tempfile

    from .plans import AcceleratorRegistry, Lakehouse

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "price_c", _cents("o_totalprice")
    )
    # mkdtemp (not TemporaryDirectory): the returned DataFrame is evaluated
    # lazily by the caller AFTER this function exits; the dir is reclaimed
    # at interpreter exit, by which point the caller has collected
    import atexit
    import shutil

    wh = tempfile.mkdtemp(prefix="refl_wh_")
    atexit.register(shutil.rmtree, wh, ignore_errors=True)
    lake = Lakehouse(spark, wh)
    t = lake.create_table_as("r7.orders", orders)
    acc = AcceleratorRegistry(lake)

    def defn():
        return t.read().groupBy("o_orderstatus", "o_orderpriority").agg(
            F.sum("price_c").alias("price_c_sum"),
            F.count("price_c").alias("price_c_count"),
            F.count("*").alias("n_rows"),
        )

    acc.create_reflection("orders_agg", defn, ["r7.orders"])
    acc.register_agg_shape(
        "orders_agg",
        "r7.orders",
        ["o_orderstatus", "o_orderpriority"],
        [("price_c", "SUM"), ("price_c", "COUNT"), ("*", "COUNT")],
    )
    routed = acc.route_aggregate(
        "r7.orders",
        ["o_orderpriority"],
        [("SUM", "price_c", "total_c"), ("COUNT", "price_c", "n")],
        where="o_orderstatus = 'F'",
    )
    assert routed is not None, "fresh covering reflection must route"
    return routed.select(
        F.col("o_orderpriority").alias("pri"),
        F.col("total_c").cast("long").alias("total_c"),
        F.col("n").cast("long").alias("n"),
    )
