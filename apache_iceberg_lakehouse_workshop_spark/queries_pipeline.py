"""Medallion-pipeline, data-quality-audit, and event-table queries
(SURVEY.md §2.11 Q1–Q8, §1 medallion layering, §2.9 event-shaped tables).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import quality as Q
from .queries_core import _cents, _dec, _dsum, q
from .session import local_frame
from .tables import load_table

# =====================================================================
# §2.11 Data-quality / audit operators
# =====================================================================


@q(
    "q1_null_audit",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(COUNT(CASE WHEN (CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END)
                               IS NULL THEN 1 END) AS BIGINT) AS null_acctbal_clean,
              CAST(COUNT(CASE WHEN (NULLIF(c_mktsegment, 'BUILDING')) IS NULL THEN 1 END)
                   AS BIGINT) AS null_seg_clean
       FROM customer""",
    "Q1 null-field audit over sentinel-dirty values (manufacturing.sql:98; "
    "clinicdata.sql:162-163)",
)
def q1_null_audit(spark, sf_dir):
    c = load_table(spark, sf_dir, "customer").select(
        F.when(F.col("c_acctbal") < 0, None).otherwise(F.col("c_acctbal")).alias("acctbal_clean"),
        F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")).alias("seg_clean"),
    )
    return Q.null_audit(c, ["acctbal_clean", "seg_clean"]).select(
        "n_rows",
        F.col("null_acctbal_clean"),
        F.col("null_seg_clean"),
    )


@q(
    "q2_out_of_range",
    """WITH bounds(event_type, lo, hi) AS (
         VALUES ('click', 0.0, 100.0), ('view', 0.0, 200.0), ('purchase', 0.0, 400.0),
                ('signup', 0.0, 50.0), ('error', 0.0, 300.0))
       SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_violations,
              CAST(MIN(e.value) AS DOUBLE) AS min_bad, CAST(MAX(e.value) AS DOUBLE) AS max_bad
       FROM events e JOIN bounds b ON e.event_type = b.event_type
       WHERE e.value < b.lo OR e.value > b.hi
       GROUP BY e.event_type""",
    "Q2 out-of-range vs bounds dimension (manufacturing.sql:80-103)",
)
def q2_out_of_range(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    bounds = local_frame(
        spark,
        [
            ("click", 0.0, 100.0),
            ("view", 0.0, 200.0),
            ("purchase", 0.0, 400.0),
            ("signup", 0.0, 50.0),
            ("error", 0.0, 300.0),
        ],
        "event_type STRING, lo DOUBLE, hi DOUBLE",
    )
    bad = Q.out_of_range(e, bounds, "value", ["event_type"])
    return bad.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_violations"),
        F.min("value").cast("double").alias("min_bad"),
        F.max("value").cast("double").alias("max_bad"),
    )


@q(
    "q4_ri_orphans",
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_orphan_lines,
              CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_orphan_parts
       FROM lineitem l
       WHERE NOT EXISTS (SELECT 1 FROM part p
                         WHERE p.p_partkey = l.l_partkey AND p.p_retailprice < 990.0)""",
    "Q4 referential-integrity audit via anti-join against pruned dim "
    "(manufacturing.sql:220-225)",
)
def q4_ri_orphans(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_retailprice") < 990.0)
    orphans = Q.fk_orphans(li, p, "l_partkey", "p_partkey")
    return orphans.agg(
        F.count("*").cast("long").alias("n_orphan_lines"),
        F.countDistinct("l_partkey").cast("long").alias("n_orphan_parts"),
    )


@q(
    "q5_temporal_sanity",
    """SELECT o.o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_shipped_before_order,
              MIN(date_trunc('day', l.l_shipdate)) AS earliest_bad_ship
       FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
       WHERE l.l_shipdate < o.o_orderdate
       GROUP BY o.o_orderstatus""",
    "Q5 temporal sanity: event before horizon (manufacturing.sql:228-241) — "
    "lines shipped before their order date",
)
def q5_temporal_sanity(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey).filter(F.col("l_shipdate") < F.col("o_orderdate"))
    return j.groupBy("o_orderstatus").agg(
        F.count("*").cast("long").alias("n_shipped_before_order"),
        F.min(F.date_trunc("day", F.col("l_shipdate")).cast("timestamp_ntz")).alias("earliest_bad_ship"),
    )


@q(
    "q6_invalid_values",
    """SELECT CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_nonpos_qty,
              CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bad_discount,
              CAST(SUM(CASE WHEN l_returnflag NOT IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT)
                AS n_bad_enum,
              CAST(SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END) AS BIGINT)
                AS n_deep_discount
       FROM lineitem""",
    "Q6 non-positive qty / bad enum / suspicious-value flags (manufacturing.sql:106-117)",
)
def q6_invalid_values(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    flag = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")
    return li.agg(
        flag(F.col("l_quantity") <= 0).alias("n_nonpos_qty"),
        flag((F.col("l_discount") < 0) | (F.col("l_discount") > 0.1)).alias("n_bad_discount"),
        flag(~F.col("l_returnflag").isin("A", "N", "R")).alias("n_bad_enum"),
        flag(F.col("l_discount") > 0.08).alias("n_deep_discount"),
    )


@q(
    "q7_reconciliation",
    """WITH silver AS (
         SELECT * FROM lineitem WHERE l_quantity > 0 AND l_shipdate < TIMESTAMP '2001-01-01'),
       gold AS (
         SELECT l_returnflag, COUNT(*) AS n, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty
         FROM silver GROUP BY l_returnflag),
       recheck AS (
         SELECT l_returnflag, COUNT(*) AS n2, SUM(CAST(l_quantity AS DECIMAL(12,2))) AS qty2
         FROM silver GROUP BY l_returnflag)
       SELECT g.l_returnflag, CAST(g.n AS BIGINT) AS gold_count,
              CAST(r.n2 AS BIGINT) AS silver_count,
              CAST(g.n - r.n2 AS BIGINT) AS diff,
              CAST(g.qty - r.qty2 AS DOUBLE) AS qty_diff
       FROM gold g JOIN recheck r ON g.l_returnflag = r.l_returnflag""",
    "Q7 gold-vs-silver layer reconciliation, diff must be 0 (manufacturing.sql:345-364)",
)
def q7_reconciliation(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem")
    silver = li.filter(
        (F.col("l_quantity") > 0)
        & (F.col("l_shipdate") < F.lit("2001-01-01 00:00:00").cast("timestamp_ntz"))
    )
    gold = silver.groupBy("l_returnflag").agg(
        F.count("*").alias("n"), F.sum(_dec("l_quantity")).alias("qty")
    )
    recheck = silver.groupBy("l_returnflag").agg(
        F.count("*").alias("n2"), F.sum(_dec("l_quantity")).alias("qty2")
    )
    return gold.join(recheck, "l_returnflag").select(
        "l_returnflag",
        F.col("n").cast("long").alias("gold_count"),
        F.col("n2").cast("long").alias("silver_count"),
        (F.col("n") - F.col("n2")).cast("long").alias("diff"),
        (F.col("qty") - F.col("qty2")).cast("double").alias("qty_diff"),
    )


# =====================================================================
# Medallion view-stack pipeline (raw -> silver -> gold), §1/§2.1 S15/J10
# =====================================================================


@q(
    "m1_medallion_gold",
    """WITH silver_orders AS (
         SELECT CAST(o_orderkey AS BIGINT) AS order_id,
                CAST(o_custkey AS BIGINT) AS customer_id,
                CASE upper(trim(o_orderstatus)) WHEN 'O' THEN 'OPEN'
                     WHEN 'F' THEN 'FULFILLED' WHEN 'P' THEN 'PENDING'
                     ELSE 'UNKNOWN' END AS status_std,
                CAST(o_totalprice AS DECIMAL(12,2)) AS total_price,
                date_trunc('month', o_orderdate) AS order_month
         FROM orders WHERE o_totalprice > 0),
       silver_customers AS (
         SELECT CAST(c_custkey AS BIGINT) AS customer_id,
                upper(trim(c_mktsegment)) AS segment
         FROM customer),
       gold AS (
         SELECT sc.segment, so.status_std, so.order_month,
                COUNT(*) AS n_orders, SUM(so.total_price) AS revenue
         FROM silver_orders so JOIN silver_customers sc ON so.customer_id = sc.customer_id
         WHERE so.status_std <> 'UNKNOWN'
         GROUP BY sc.segment, so.status_std, so.order_month)
       SELECT segment, status_std, order_month,
              CAST(n_orders AS BIGINT) AS n_orders, CAST(revenue AS DOUBLE) AS revenue
       FROM gold""",
    "Medallion raw->silver->gold view stack: status standardization (UPPER/TRIM, "
    "retail.sql:88-100), view-on-view join (J10, retail.sql:303-309), gold rollup. "
    "Built as real stacked temp views so the optimizer sees one inlined plan (R4).",
)
def m1_medallion_gold(spark, sf_dir):
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("m1_raw_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("m1_raw_customer")
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW m1_silver_orders AS
           SELECT CAST(o_orderkey AS BIGINT) AS order_id,
                  CAST(o_custkey AS BIGINT) AS customer_id,
                  CASE upper(trim(o_orderstatus)) WHEN 'O' THEN 'OPEN'
                       WHEN 'F' THEN 'FULFILLED' WHEN 'P' THEN 'PENDING'
                       ELSE 'UNKNOWN' END AS status_std,
                  CAST(o_totalprice AS DECIMAL(12,2)) AS total_price,
                  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP_NTZ) AS order_month
           FROM m1_raw_orders WHERE o_totalprice > 0"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW m1_silver_customers AS
           SELECT CAST(c_custkey AS BIGINT) AS customer_id,
                  upper(trim(c_mktsegment)) AS segment
           FROM m1_raw_customer"""
    )
    spark.sql(
        """CREATE OR REPLACE TEMP VIEW m1_gold AS
           SELECT sc.segment, so.status_std, so.order_month,
                  COUNT(*) AS n_orders, SUM(so.total_price) AS revenue
           FROM m1_silver_orders so
           JOIN m1_silver_customers sc ON so.customer_id = sc.customer_id
           WHERE so.status_std <> 'UNKNOWN'
           GROUP BY sc.segment, so.status_std, so.order_month"""
    )
    return spark.sql(
        """SELECT segment, status_std, order_month,
                  CAST(n_orders AS BIGINT) AS n_orders, CAST(revenue AS DOUBLE) AS revenue
           FROM m1_gold"""
    )


# =====================================================================
# Event-table analytics (§2.9 event-shaped raw layer; batch twin of the
# streaming tumbling-window aggregate in streaming/)
# =====================================================================


@q(
    "e1_daily_event_rollup",
    """SELECT date_trunc('day', ts) AS event_date, event_type,
              CAST(COUNT(*) AS BIGINT) AS n_events,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
       FROM events GROUP BY date_trunc('day', ts), event_type""",
    "tumbling daily rollup over the event stream table (semantic_example.sql:77-90 "
    "app-log usage events; batch twin of streaming window(ts,'1 day'))",
)
def e1_daily_event_rollup(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("timestamp_ntz").alias("event_date"), "event_type"
    ).agg(
        F.count("*").cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
        _dsum(_cents("value"), 100).alias("total_value"),
    )


@q(
    "e2_sessionized_purchases",
    """SELECT CAST(user_id AS BIGINT) AS user_id,
              CAST(COUNT(*) AS BIGINT) AS n_purchases,
              CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS spend,
              MIN(date_trunc('day', ts)) AS first_day,
              MAX(date_trunc('day', ts)) AS last_day
       FROM events WHERE event_type = 'purchase' GROUP BY user_id""",
    "per-user purchase rollup with first/last-touch dates (semantics.sql:191-194 "
    "revenue rollup family)",
)
def e2_sessionized_purchases(spark, sf_dir):
    e = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    return e.groupBy(F.col("user_id").cast("long").alias("user_id")).agg(
        F.count("*").cast("long").alias("n_purchases"),
        _dsum(_cents("value"), 100).alias("spend"),
        F.min(F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")).alias("first_day"),
        F.max(F.date_trunc("day", F.col("ts")).cast("timestamp_ntz")).alias("last_day"),
    )


@q(
    "p11_exists_subquery",
    """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment
       FROM customer c
       WHERE EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey
                       AND o.o_orderpriority = '1-URGENT')
         AND NOT EXISTS (SELECT 1 FROM orders o2
                         WHERE o2.o_custkey = c.c_custkey
                           AND o2.o_orderstatus = 'F')""",
    "P11 EXISTS / NOT EXISTS subqueries (engine extension; SURVEY §2.2 "
    "note — the reference spells this shape as joins, the SQL surface "
    "must still take the subquery form): Catalyst decorrelates both into "
    "semi/anti joins — .explain shows no per-row subquery execution, the "
    "same two-join plan a hand-written left_semi + left_anti would give.",
)
def p11_exists_subquery(spark, sf_dir):
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("p11_customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("p11_orders")
    return spark.sql(
        """SELECT CAST(c_custkey AS BIGINT) AS c_custkey, c_mktsegment
           FROM p11_customer c
           WHERE EXISTS (SELECT 1 FROM p11_orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_orderpriority = '1-URGENT')
             AND NOT EXISTS (SELECT 1 FROM p11_orders o2
                             WHERE o2.o_custkey = c.c_custkey
                               AND o2.o_orderstatus = 'F')"""
    )


@q(
    "p12_correlated_scalar",
    """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
              o_orderpriority,
              CAST(o_totalprice AS DOUBLE) AS o_totalprice
       FROM orders o
       WHERE CAST(o_totalprice AS DECIMAL(12,2))
               * (SELECT COUNT(*) FROM orders o2
                  WHERE o2.o_orderpriority = o.o_orderpriority) * 10
             > (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) FROM orders o2
                WHERE o2.o_orderpriority = o.o_orderpriority) * 18""",
    "P12 correlated scalar subqueries (engine extension): rows beating "
    "1.8x their group's average, stated with two correlated scalars. The "
    "comparison multiplies through by the group count so every operand is "
    "an exact decimal/integer — no float-average boundary rows to flip "
    "between engines. Catalyst decorrelates both scalars into ONE "
    "aggregate + join (no per-row re-execution).",
)
def p12_correlated_scalar(spark, sf_dir):
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("p12_orders")
    return spark.sql(
        """SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
                  o_orderpriority,
                  CAST(o_totalprice AS DOUBLE) AS o_totalprice
           FROM p12_orders o
           WHERE CAST(o_totalprice AS DECIMAL(12,2))
                   * (SELECT COUNT(*) FROM p12_orders o2
                      WHERE o2.o_orderpriority = o.o_orderpriority) * 10
                 > (SELECT SUM(CAST(o_totalprice AS DECIMAL(12,2))) FROM p12_orders o2
                    WHERE o2.o_orderpriority = o.o_orderpriority) * 18"""
    )


@q(
    "e4_funnel",
    """WITH v AS (SELECT user_id, MIN(ts) AS t_view FROM events
                  WHERE event_type = 'view' GROUP BY user_id),
       k AS (SELECT e.user_id, MIN(e.ts) AS t_click
             FROM events e JOIN v ON v.user_id = e.user_id AND e.ts >= v.t_view
             WHERE e.event_type = 'click' GROUP BY e.user_id),
       p AS (SELECT e.user_id, MIN(e.ts) AS t_buy
             FROM events e JOIN k ON k.user_id = e.user_id AND e.ts >= k.t_click
             WHERE e.event_type = 'purchase' GROUP BY e.user_id),
       stages AS (
         SELECT 1 AS stage_no, 'view' AS stage, COUNT(*) AS n_users FROM v
         UNION ALL SELECT 2, 'click_after_view', COUNT(*) FROM k
         UNION ALL SELECT 3, 'purchase_after_click', COUNT(*) FROM p),
       base AS (SELECT n_users AS n0 FROM stages WHERE stage_no = 1)
       SELECT CAST(stage_no AS BIGINT) AS stage_no, stage,
              CAST(n_users AS BIGINT) AS n_users,
              round(CAST(n_users AS DOUBLE) / (SELECT n0 FROM base), 6) AS pct_of_top
       FROM stages""",
    "E4 funnel analysis (engine extension; the canonical event-analytics "
    "ask): strictly ordered view -> click -> purchase conversion, each "
    "stage anchored at the user's FIRST qualifying event at-or-after the "
    "prior stage (min-anchor semantics — deterministic, no window scan "
    "per pair). Three partial-aggregated min-joins, no self-cartesian.",
)
def e4_funnel(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    k = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(k, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    stages = (
        v.agg(F.count("*").alias("n_users")).select(
            F.lit(1).cast("long").alias("stage_no"), F.lit("view").alias("stage"), "n_users"
        )
        .unionAll(
            k.agg(F.count("*").alias("n_users")).select(
                F.lit(2).cast("long").alias("stage_no"),
                F.lit("click_after_view").alias("stage"),
                "n_users",
            )
        )
        .unionAll(
            p.agg(F.count("*").alias("n_users")).select(
                F.lit(3).cast("long").alias("stage_no"),
                F.lit("purchase_after_click").alias("stage"),
                "n_users",
            )
        )
    )
    n0 = v.agg(F.count("*").alias("n0"))
    return stages.crossJoin(F.broadcast(n0)).select(
        "stage_no",
        "stage",
        F.col("n_users").cast("long").alias("n_users"),
        F.round(F.col("n_users").cast("double") / F.col("n0"), 6).alias("pct_of_top"),
    )


@q(
    "e5_cohort_retention",
    """WITH first_seen AS (
         SELECT user_id, MIN(ts) AS t0 FROM events GROUP BY user_id),
       act AS (SELECT e.user_id,
                      date_trunc('week', f.t0) AS cohort_week,
                      CAST(floor(date_diff('day', date_trunc('week', f.t0),
                                           date_trunc('week', e.ts)) / 7.0) AS BIGINT)
                        AS week_offset
               FROM events e JOIN first_seen f ON f.user_id = e.user_id)
       SELECT cohort_week, week_offset,
              CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_active
       FROM act
       WHERE week_offset <= 8
       GROUP BY cohort_week, week_offset""",
    "E5 cohort retention (engine extension; the other canonical event "
    "ask): users grouped by first-seen ISO week, distinct activity counted "
    "per subsequent week offset. Week bucketing and day arithmetic are "
    "engine-portable (both engines truncate to ISO Monday); one shuffle "
    "to anchor first-seen, one to roll up (cohort, offset).",
)
def e5_cohort_retention(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(F.min("ts").alias("t0"))
    act = e.join(first_seen, "user_id").select(
        "user_id",
        F.date_trunc("week", "t0").cast("timestamp_ntz").alias("cohort_week"),
        F.floor(
            F.datediff(
                F.date_trunc("week", "ts"), F.date_trunc("week", "t0")
            )
            / 7.0
        )
        .cast("long")
        .alias("week_offset"),
    )
    return (
        act.filter(F.col("week_offset") <= 8)
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").cast("long").alias("n_active"))
    )


@q(
    "e6_gapfill",
    """WITH daily AS (
         SELECT event_type, date_trunc('day', ts) AS d, COUNT(*) AS n
         FROM events GROUP BY event_type, date_trunc('day', ts)),
       bounds AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
       grid AS (SELECT t.event_type, gs.g AS d
                FROM (SELECT DISTINCT event_type FROM daily) t
                CROSS JOIN bounds
                CROSS JOIN LATERAL (SELECT unnest(generate_series(bounds.d0, bounds.d1,
                                             INTERVAL 1 DAY)) AS g) gs)
       SELECT grid.event_type, grid.d AS day,
              CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
       FROM grid LEFT JOIN daily
         ON daily.event_type = grid.event_type AND daily.d = grid.d""",
    "E6 time-series gap filling / daily resample (engine extension; the "
    "operator Spark lacks natively and every monitoring/training-data "
    "timeline needs): per-series daily counts with missing days "
    "ZERO-FILLED across the observed range, so downstream rolling windows "
    "and rate math see a dense axis. The calendar grid is sequence() + "
    "explode over one broadcast (min, max) row — O(series x days) slim "
    "rows, never a scan-sized blowup; one left join back to the sparse "
    "aggregates.",
)
def e6_gapfill(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("timestamp_ntz").alias("d")
    ).agg(F.count("*").alias("n"))
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
            ).alias("d"),
        )
    )
    return grid.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        F.col("d").alias("day"),
        F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
    )
