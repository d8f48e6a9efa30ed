"""Covered-query reflection substitution (plans/advisor.route_sql +
plans/accelerator.route_aggregate) — SURVEY §4 R7/R8, readme.md:331-355:
a reflection accelerates any query it COVERS, not just its defining
query. A never-before-seen SELECT whose dims are a subset of a fresh
AGGREGATE reflection's (and whose AVG is derivable from SUM+COUNT
partials) must be served by re-aggregating the materialized table, with
values identical to the plain plan; staleness or anything unprovable
falls back to the plain plan.
"""

from __future__ import annotations

import pytest

from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner


@pytest.fixture()
def runner(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.sales (region VARCHAR, product VARCHAR, amount DOUBLE);
        INSERT INTO dremio.demo.sales VALUES
          ('east', 'a', 10.0), ('east', 'a', 20.0), ('east', 'b', 5.0),
          ('west', 'a', 7.0),  ('west', 'b', 9.0),  ('west', 'b', 11.0),
          ('north', 'c', 100.0);
        """
    )
    r.use_reflection_routing = True
    return r


def _reads_reflection(df) -> bool:
    return any("_reflections" in f for f in df.inputFiles())


_REFLECTION = """
ALTER DATASET dremio.demo.sales CREATE AGGREGATE REFLECTION sales_agg
USING DIMENSIONS (region, product) MEASURES (amount (SUM, COUNT, MIN, MAX))
"""


def test_subset_dims_and_avg_served_from_reflection(runner):
    runner.run(_REFLECTION)
    # never-before-seen query: dims {region} is a strict SUBSET of the
    # reflection's (region, product); AVG comes from SUM/COUNT partials
    sql = (
        "SELECT region, SUM(amount) AS total, AVG(amount) AS avg_amt, "
        "COUNT(amount) AS n FROM dremio.demo.sales GROUP BY region"
    )
    out = runner.run(sql)
    assert _reads_reflection(out), "plan must scan the materialized reflection"
    got = {r.region: (r.total, r.avg_amt, r.n) for r in out.collect()}

    runner.use_reflection_routing = False
    want = {r.region: (r.total, r.avg_amt, r.n) for r in runner.run(sql).collect()}
    assert got == want
    assert got["east"] == (35.0, 35.0 / 3, 3)


def test_exact_shape_also_routes(runner):
    runner.run(_REFLECTION)
    out = runner.run(
        "SELECT region, product, MIN(amount) AS lo, MAX(amount) AS hi "
        "FROM dremio.demo.sales GROUP BY region, product"
    )
    assert _reads_reflection(out)
    got = {(r.region, r.product): (r.lo, r.hi) for r in out.collect()}
    assert got[("west", "b")] == (9.0, 11.0)
    assert len(got) == 5


def test_stale_reflection_falls_back_and_stays_correct(runner):
    runner.run(_REFLECTION)
    sql = "SELECT region, SUM(amount) AS total FROM dremio.demo.sales GROUP BY region"
    assert _reads_reflection(runner.run(sql))
    # anchor advances -> reflection stale -> plain plan, fresh values
    runner.run("INSERT INTO dremio.demo.sales VALUES ('east', 'a', 1000.0)")
    out = runner.run(sql)
    assert not _reads_reflection(out)
    assert {r.region: r.total for r in out.collect()}["east"] == 1035.0


def test_uncovered_queries_fall_back(runner):
    runner.run(_REFLECTION)
    # WHERE over a MEASURE column is not servable from partials
    out = runner.run(
        "SELECT region, SUM(amount) AS total FROM dremio.demo.sales "
        "WHERE amount > 5 GROUP BY region"
    )
    assert not _reads_reflection(out)
    assert {r.region: r.total for r in out.collect()} == {
        "east": 30.0, "west": 27.0, "north": 100.0,
    }
    # a dim the reflection lacks
    out2 = runner.run(
        "SELECT product, SUM(amount) AS t FROM dremio.demo.sales GROUP BY product"
    )
    # product IS covered (subset of dims) -> routes; sanity-check values
    assert _reads_reflection(out2)
    assert {r.product: r.t for r in out2.collect()} == {"a": 37.0, "b": 25.0, "c": 100.0}


def test_where_on_dimension_served_from_reflection(runner):
    """Round-6 task #1: a WHERE predicate over the reflection's DIMENSION
    columns is served by filtering the materialized partials before the
    rollup — Dremio's bread-and-butter 'accelerates any query it covers'
    (readme.md:331-355; the workshop queries customer_spend per-city,
    readme.md:307-329). Exact because dims are stored raw."""
    runner.run(_REFLECTION)
    sql = (
        "SELECT region, SUM(amount) AS total, AVG(amount) AS avg_amt "
        "FROM dremio.demo.sales WHERE product = 'a' GROUP BY region"
    )
    out = runner.run(sql)
    assert _reads_reflection(out), "dim-predicate query must route"
    got = {r.region: (r.total, r.avg_amt) for r in out.collect()}
    runner.use_reflection_routing = False
    want = {r.region: (r.total, r.avg_amt) for r in runner.run(sql).collect()}
    assert got == want == {"east": (30.0, 15.0), "west": (7.0, 7.0)}
    runner.use_reflection_routing = True

    # filter dim not in GROUP BY; IN-list; AND of dims — all dim-only
    out2 = runner.run(
        "SELECT region, COUNT(amount) AS n FROM dremio.demo.sales "
        "WHERE product IN ('a', 'b') AND region <> 'north' GROUP BY region"
    )
    assert _reads_reflection(out2)
    assert {r.region: r.n for r in out2.collect()} == {"east": 3, "west": 3}

    # function over a dim is still exact (applied to the raw stored dim)
    out3 = runner.run(
        "SELECT region, SUM(amount) AS t FROM dremio.demo.sales "
        "WHERE UPPER(product) = 'A' GROUP BY region"
    )
    assert _reads_reflection(out3)
    assert {r.region: r.t for r in out3.collect()} == {"east": 30.0, "west": 7.0}

    # a string literal that NAMES a measure column must not block routing
    out4 = runner.run(
        "SELECT region, SUM(amount) AS t FROM dremio.demo.sales "
        "WHERE product = 'amount' GROUP BY region"
    )
    assert _reads_reflection(out4)
    assert out4.count() == 0

    # stale reflection: dim-filtered query falls back and stays correct
    runner.run("INSERT INTO dremio.demo.sales VALUES ('east', 'a', 1.0)")
    out5 = runner.run(sql)
    assert not _reads_reflection(out5)
    assert {r.region: r.total for r in out5.collect()}["east"] == 31.0


def test_advisor_recommended_reflection_routes_too(spark, tmp_path):
    """The full R8 loop: repeated workload -> advisor recommends ->
    accelerate() materializes -> a NEW subset query is served from it."""
    lake = Lakehouse(spark, str(tmp_path / "wh2"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.ev (kind VARCHAR, day VARCHAR, val DOUBLE);
        INSERT INTO dremio.demo.ev VALUES
          ('click', 'mon', 1.0), ('click', 'tue', 2.0), ('view', 'mon', 3.0);
        """
    )
    _ = r.advisor  # enable observation
    hot = (
        "SELECT kind, day, SUM(val) AS s, AVG(val) AS a "
        "FROM dremio.demo.ev GROUP BY kind, day"
    )
    for _i in range(3):
        r.run(hot)
    created = r.accelerate()
    assert created  # recommendation materialized
    r.use_reflection_routing = True
    out = r.run("SELECT kind, AVG(val) AS a FROM dremio.demo.ev GROUP BY kind")
    assert _reads_reflection(out)
    assert {x.kind: x.a for x in out.collect()} == {"click": 1.5, "view": 3.0}


def test_incremental_agg_refresh_merges_partials(runner):
    """Append-only anchor growth -> refresh_incremental_agg merges delta
    partials in O(new data + groups) and the reflection serves values
    identical to a full recompute."""
    runner.run(_REFLECTION)
    acc = runner.accelerator
    assert acc.is_fresh("sales_agg")
    runner.run(
        "INSERT INTO dremio.demo.sales VALUES "
        "('east', 'a', 40.0), ('south', 'd', 1.5), ('west', 'b', 2.0)"
    )
    assert not acc.is_fresh("sales_agg")

    assert acc.refresh_incremental_agg("sales_agg") is True
    assert acc.is_fresh("sales_agg")

    sql = (
        "SELECT region, SUM(amount) AS total, AVG(amount) AS avg_amt, "
        "COUNT(amount) AS n, MIN(amount) AS lo, MAX(amount) AS hi "
        "FROM dremio.demo.sales GROUP BY region"
    )
    out = runner.run(sql)
    assert _reads_reflection(out), "refreshed reflection must serve the query"
    got = {r.region: (r.total, r.avg_amt, r.n, r.lo, r.hi) for r in out.collect()}
    runner.use_reflection_routing = False
    want = {r.region: (r.total, r.avg_amt, r.n, r.lo, r.hi) for r in runner.run(sql).collect()}
    assert got == want
    assert got["east"] == (75.0, 75.0 / 4, 4, 5.0, 40.0)
    assert got["south"] == (1.5, 1.5, 1, 1.5, 1.5)


def test_incremental_agg_refresh_rejects_rewritten_history(runner):
    """A DELETE in the anchor history rewrites rows -> incremental merge is
    undefined; the method refuses and the caller falls back to refresh()."""
    runner.run(_REFLECTION)
    acc = runner.accelerator
    runner.run("DELETE FROM dremio.demo.sales WHERE region = 'north'")
    assert acc.refresh_incremental_agg("sales_agg") is False
    acc.refresh("sales_agg")
    assert acc.is_fresh("sales_agg")
    out = runner.run(
        "SELECT region, SUM(amount) AS total FROM dremio.demo.sales GROUP BY region"
    )
    assert _reads_reflection(out)
    assert "north" not in {r.region for r in out.collect()}


def test_ndv_measure_served_from_hll_sketch_reflection(runner):
    """APPROX_COUNT_DISTINCT served from mergeable DataSketches HLL
    partials stored in the reflection — the one distinct-count form a
    rollup CAN carry. The routed estimate must exactly equal a direct
    DataSketches computation over the raw rows (same sketch state), and
    incremental refresh (sketch union) must preserve that equality."""
    from pyspark.sql import functions as F

    runner.run(
        "ALTER DATASET dremio.demo.sales CREATE AGGREGATE REFLECTION sales_ndv "
        "USING DIMENSIONS (region, product) "
        "MEASURES (amount (SUM), product (NDV))"
    )
    acc = runner.accelerator
    sql = (
        "SELECT region, APPROX_COUNT_DISTINCT(product) AS ndv "
        "FROM dremio.demo.sales GROUP BY region"
    )
    out = runner.run(sql)
    assert _reads_reflection(out)
    got = {r.region: r.ndv for r in out.collect()}

    spark = runner.spark
    raw = runner.lake.table("dremio.demo.sales").read()
    want = {
        r.region: r.ndv
        for r in raw.groupBy("region")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("product")).alias("ndv"))
        .collect()
    }
    assert got == want
    assert got["east"] == 2 and got["north"] == 1   # sparse HLL is exact here

    # append-only growth -> incremental refresh merges sketches, equality holds
    runner.run(
        "INSERT INTO dremio.demo.sales VALUES ('east', 'z', 1.0), ('east', 'z', 2.0)"
    )
    assert acc.refresh_incremental_agg("sales_ndv") is True
    out2 = runner.run(sql)
    assert _reads_reflection(out2)
    assert {r.region: r.ndv for r in out2.collect()}["east"] == 3


def test_incremental_agg_refresh_refuses_filtered_view_dataset(runner):
    """An AGGREGATE reflection over a FILTERED VIEW has a single anchor and
    the same column names, but its rows are derived — merging the raw
    anchor's delta would silently corrupt the partials. The incremental
    path must refuse (return False) so the caller's full refresh()
    recomputes through the real definition."""
    runner.run(
        "CREATE VIEW dremio.demo.east_sales AS "
        "SELECT * FROM dremio.demo.sales WHERE region = 'east'"
    )
    runner.run(
        "ALTER DATASET dremio.demo.east_sales CREATE AGGREGATE REFLECTION east_agg "
        "USING DIMENSIONS (product) MEASURES (amount (SUM, COUNT))"
    )
    acc = runner.accelerator
    assert acc.is_fresh("east_agg")
    # append rows for BOTH regions: the incremental path would merge the
    # west row into the east-only partials
    runner.run(
        "INSERT INTO dremio.demo.sales VALUES ('east', 'a', 40.0), ('west', 'a', 999.0)"
    )
    assert acc.refresh_incremental_agg("east_agg") is False

    acc.refresh("east_agg")
    assert acc.is_fresh("east_agg")
    stored = acc.lake.table("_reflections.east_agg").read()
    got = {r.product: (r.amount_sum, r.amount_count) for r in stored.collect()}
    # east rows only: a=10+20+40, b=5 — the west 999.0 must not leak in
    assert got == {"a": (70.0, 3), "b": (5.0, 1)}


# ------------------------------------------------ join-aware reflections


@pytest.fixture()
def join_runner(spark, tmp_path):
    """The workshop's customer_spend shape: a reflection on a JOIN VIEW
    (readme.md:307-329) must accelerate queries over the same join."""
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "whj"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.orders2 (customer_id BIGINT, amount DOUBLE);
        INSERT INTO dremio.demo.orders2 VALUES
          (1, 10.0), (1, 20.0), (2, 5.0), (2, 7.0), (3, 100.0), (3, 1.0);
        CREATE TABLE dremio.demo.customers2 (customer_id BIGINT, region VARCHAR, tier VARCHAR);
        INSERT INTO dremio.demo.customers2 VALUES
          (1, 'east', 'gold'), (2, 'west', 'gold'), (3, 'east', 'silver');
        CREATE VIEW dremio.demo.customer_spend AS
          SELECT c.region, c.tier, o.amount
          FROM dremio.demo.orders2 o
          JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id;
        ALTER DATASET dremio.demo.customer_spend CREATE AGGREGATE REFLECTION cs_refl
        USING DIMENSIONS (region, tier) MEASURES (amount (SUM, COUNT, MIN, MAX));
        """
    )
    r.use_reflection_routing = True
    return r


def test_join_query_served_from_join_view_reflection(join_runner):
    """A NEVER-seen query written directly against the JOIN (not the view),
    with different aliases and a dim subset, must be served by
    re-aggregating the materialized reflection — value-identical to the
    plain plan."""
    sql = (
        "SELECT c2.region, SUM(o2.amount) AS total, AVG(o2.amount) AS avg_amt "
        "FROM dremio.demo.orders2 o2 "
        "JOIN dremio.demo.customers2 c2 ON o2.customer_id = c2.customer_id "
        "GROUP BY c2.region"
    )
    out = join_runner.run(sql)
    assert _reads_reflection(out), "plan must scan the materialized reflection"
    got = {r.region: (r.total, r.avg_amt) for r in out.collect()}

    join_runner.use_reflection_routing = False
    want = {r.region: (r.total, r.avg_amt) for r in join_runner.run(sql).collect()}
    assert got == want
    assert got["east"] == (131.0, 131.0 / 4)
    assert got["west"] == (12.0, 6.0)


def test_join_reflection_key_order_and_alias_invariance(join_runner):
    """Canonical join identity: swapped equi-key sides and swapped table
    order still match the registered subtree."""
    sql = (
        "SELECT x.tier, COUNT(y.amount) AS n "
        "FROM dremio.demo.customers2 x "
        "JOIN dremio.demo.orders2 y ON x.customer_id = y.customer_id "
        "GROUP BY x.tier"
    )
    out = join_runner.run(sql)
    assert _reads_reflection(out)
    assert {r.tier: r.n for r in out.collect()} == {"gold": 4, "silver": 2}


def test_join_reflection_stale_falls_back(join_runner):
    sql = (
        "SELECT c.region, SUM(o.amount) AS total "
        "FROM dremio.demo.orders2 o "
        "JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id "
        "GROUP BY c.region"
    )
    assert _reads_reflection(join_runner.run(sql))
    join_runner.run("INSERT INTO dremio.demo.orders2 VALUES (1, 1000.0)")
    out = join_runner.run(sql)
    assert not _reads_reflection(out)
    assert {r.region: r.total for r in out.collect()}["east"] == 1131.0


def test_join_reflection_uncovered_shapes_fall_back(join_runner):
    # different join key -> different subtree -> plain plan
    sql_badkey = (
        "SELECT c.region, SUM(o.amount) AS total "
        "FROM dremio.demo.orders2 o "
        "JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id "
        "AND o.amount = c.customer_id GROUP BY c.region"
    )
    assert not _reads_reflection(join_runner.run(sql_badkey))
    # LEFT JOIN is not provably servable from an inner-join materialization
    sql_left = (
        "SELECT c.region, SUM(o.amount) AS total "
        "FROM dremio.demo.orders2 o "
        "LEFT JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id "
        "GROUP BY c.region"
    )
    assert not _reads_reflection(join_runner.run(sql_left))
    # WHERE over a measure / join-key column -> plain plan
    sql_where = (
        "SELECT c.region, SUM(o.amount) AS total "
        "FROM dremio.demo.orders2 o "
        "JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id "
        "WHERE o.amount > 5 GROUP BY c.region"
    )
    assert not _reads_reflection(join_runner.run(sql_where))


def test_join_query_with_dim_filter_served_from_reflection(join_runner):
    """Round-6 task #1, join half: WHERE over the join reflection's dim
    columns (alias-qualified in the query) filters the materialized
    partials — value-identical to the plain join plan."""
    sql = (
        "SELECT c.region, SUM(o.amount) AS total "
        "FROM dremio.demo.orders2 o "
        "JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id "
        "WHERE c.tier = 'gold' GROUP BY c.region"
    )
    out = join_runner.run(sql)
    assert _reads_reflection(out), "dim-filtered join query must route"
    got = {r.region: r.total for r in out.collect()}
    join_runner.use_reflection_routing = False
    want = {r.region: r.total for r in join_runner.run(sql).collect()}
    assert got == want == {"east": 30.0, "west": 12.0}


def test_view_with_computed_column_not_join_registered(spark, tmp_path):
    """A view that RENAMES or computes a column must not register a join
    shape (its partials mean something else than the raw column); queries
    over the raw join run the plain plan and stay correct."""
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(spark, str(tmp_path / "whc"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.o3 (customer_id BIGINT, amount DOUBLE);
        INSERT INTO dremio.demo.o3 VALUES (1, 10.0), (2, 5.0);
        CREATE TABLE dremio.demo.c3 (customer_id BIGINT, region VARCHAR);
        INSERT INTO dremio.demo.c3 VALUES (1, 'east'), (2, 'west');
        CREATE VIEW dremio.demo.spend3 AS
          SELECT c.region, o.amount * 2 AS amount
          FROM dremio.demo.o3 o JOIN dremio.demo.c3 c
          ON o.customer_id = c.customer_id;
        ALTER DATASET dremio.demo.spend3 CREATE AGGREGATE REFLECTION s3_refl
        USING DIMENSIONS (region) MEASURES (amount (SUM));
        """
    )
    r.use_reflection_routing = True
    # no join identity is registered: the raw join never routes
    assert r.accelerator.route_join_aggregate(
        ["dremio.demo.o3", "dremio.demo.c3"],
        ["dremio.demo.o3.customer_id=dremio.demo.c3.customer_id"],
        ["region"], [("SUM", "amount", "total")],
    ) is None
    out = r.run(
        "SELECT c.region, SUM(o.amount) AS total FROM dremio.demo.o3 o "
        "JOIN dremio.demo.c3 c ON o.customer_id = c.customer_id GROUP BY c.region"
    )
    assert not _reads_reflection(out)
    # raw values, not the view's doubled ones
    assert {x.region: x.total for x in out.collect()} == {"east": 10.0, "west": 5.0}


# ------------------------------------- incremental refresh of join shapes


def test_join_reflection_incremental_refresh_on_fact_append(join_runner):
    """Round-6 task #3: after an append-only fact-side commit, the join
    reflection refreshes by joining ONLY the delta against the dim side
    and merging partials — no full fact re-join (the fact table's full
    read() is never invoked), values identical to a full recompute."""
    from apache_iceberg_lakehouse_workshop_spark.plans import lakeshim

    acc = join_runner.accelerator
    assert acc.is_fresh("cs_refl")
    join_runner.run(
        "INSERT INTO dremio.demo.orders2 VALUES (1, 500.0), (2, 3.0), (3, 0.5)"
    )
    assert not acc.is_fresh("cs_refl")

    read_names = []
    orig_read = lakeshim.LakeTable.read

    def spy_read(self, *a, **kw):
        read_names.append(self.name)
        return orig_read(self, *a, **kw)

    lakeshim.LakeTable.read = spy_read
    try:
        assert acc.refresh_incremental_agg("cs_refl") is True
    finally:
        lakeshim.LakeTable.read = orig_read
    assert "dremio.demo.orders2" not in read_names, (
        "fact side must be read incrementally, never fully re-joined"
    )
    assert "dremio.demo.customers2" in read_names
    assert acc.is_fresh("cs_refl")

    sql = (
        "SELECT c.region, SUM(o.amount) AS total, AVG(o.amount) AS avg_amt, "
        "MIN(o.amount) AS lo, MAX(o.amount) AS hi "
        "FROM dremio.demo.orders2 o "
        "JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id "
        "GROUP BY c.region"
    )
    out = join_runner.run(sql)
    assert _reads_reflection(out)
    got = {r.region: (r.total, r.avg_amt, r.lo, r.hi) for r in out.collect()}
    join_runner.use_reflection_routing = False
    want = {r.region: (r.total, r.avg_amt, r.lo, r.hi) for r in join_runner.run(sql).collect()}
    assert got == want
    assert got["east"] == (631.5, 631.5 / 6, 0.5, 500.0)


def test_join_reflection_incremental_refuses_dim_rewrite(join_runner):
    """A dim-side UPDATE rewrites history — the delta algebra is undefined;
    the incremental path must refuse and full refresh() recovers."""
    acc = join_runner.accelerator
    join_runner.run(
        "UPDATE dremio.demo.customers2 SET region = 'south' WHERE customer_id = 2"
    )
    assert acc.refresh_incremental_agg("cs_refl") is False
    acc.refresh("cs_refl")
    assert acc.is_fresh("cs_refl")
    out = join_runner.run(
        "SELECT c.region, SUM(o.amount) AS total "
        "FROM dremio.demo.orders2 o "
        "JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id "
        "GROUP BY c.region"
    )
    assert _reads_reflection(out)
    assert {r.region: r.total for r in out.collect()} == {
        "east": 131.0, "south": 12.0,
    }


def test_join_reflection_incremental_refuses_both_sides_advanced(join_runner):
    acc = join_runner.accelerator
    join_runner.run("INSERT INTO dremio.demo.orders2 VALUES (1, 1.0)")
    join_runner.run(
        "INSERT INTO dremio.demo.customers2 VALUES (4, 'north', 'gold')"
    )
    assert acc.refresh_incremental_agg("cs_refl") is False
    acc.refresh("cs_refl")
    assert acc.is_fresh("cs_refl")


def test_join_reflection_incremental_dim_side_append(join_runner):
    """Append-only growth on the DIM side is also exact (inner join
    distributes over union on either input): new dim rows join the full
    fact side once, partials merge."""
    acc = join_runner.accelerator
    join_runner.run("INSERT INTO dremio.demo.orders2 VALUES (9, 77.0)")
    acc.refresh("cs_refl")  # pick up the orphan fact row (joins nothing yet)
    join_runner.run(
        "INSERT INTO dremio.demo.customers2 VALUES (9, 'east', 'gold')"
    )
    assert acc.refresh_incremental_agg("cs_refl") is True
    sql = (
        "SELECT c.region, SUM(o.amount) AS total "
        "FROM dremio.demo.orders2 o "
        "JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id "
        "GROUP BY c.region"
    )
    out = join_runner.run(sql)
    assert _reads_reflection(out)
    assert {r.region: r.total for r in out.collect()}["east"] == 131.0 + 77.0


def test_advisor_recommends_and_creates_join_reflection(spark, tmp_path):
    """Round-6 task #5: the autonomous lifecycle for the JOIN half
    (readme.md:381-389) — a repeated join+GROUP BY workload is
    fingerprinted, accelerate() materializes a JOIN reflection, and the
    next query (including a dim-subset variant) is routed to it."""
    lake = Lakehouse(spark, str(tmp_path / "whja"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.fact (cid BIGINT, amount DOUBLE);
        INSERT INTO dremio.demo.fact VALUES (1, 10.0), (1, 20.0), (2, 5.0), (3, 8.0);
        CREATE TABLE dremio.demo.dim (cid BIGINT, city VARCHAR, seg VARCHAR);
        INSERT INTO dremio.demo.dim VALUES
          (1, 'york', 'a'), (2, 'kent', 'a'), (3, 'york', 'b');
        """
    )
    _ = r.advisor  # enable observation
    hot = (
        "SELECT d.city, d.seg, SUM(f.amount) AS total, AVG(f.amount) AS avg_amt "
        "FROM dremio.demo.fact f JOIN dremio.demo.dim d ON f.cid = d.cid "
        "GROUP BY d.city, d.seg"
    )
    for _i in range(3):
        r.run(hot)
    recs = r.advisor.recommendations()
    assert any("join" in rec for rec in recs), "join shape must be recommended"
    created = r.accelerate()
    assert created
    r.use_reflection_routing = True
    # dim-subset variant with different aliases must route
    out = r.run(
        "SELECT y.city, SUM(x.amount) AS total "
        "FROM dremio.demo.fact x JOIN dremio.demo.dim y ON x.cid = y.cid "
        "GROUP BY y.city"
    )
    assert _reads_reflection(out)
    assert {q.city: q.total for q in out.collect()} == {"york": 38.0, "kent": 5.0}
    # and the advisor-created join reflection refreshes incrementally on
    # fact appends (task #3 composing with task #5)
    r.run("INSERT INTO dremio.demo.fact VALUES (2, 100.0)")
    assert r.accelerator.refresh_incremental_agg(created[0]) is True
    out2 = r.run(
        "SELECT y.city, SUM(x.amount) AS total "
        "FROM dremio.demo.fact x JOIN dremio.demo.dim y ON x.cid = y.cid "
        "GROUP BY y.city"
    )
    assert _reads_reflection(out2)
    assert {q.city: q.total for q in out2.collect()} == {"york": 38.0, "kent": 105.0}


# ------------------------------- one aggregate shape: restart and job floors

_JOIN_TABLES = ["dremio.demo.orders2", "dremio.demo.customers2"]
_JOIN_KEYS = ["dremio.demo.orders2.customer_id=dremio.demo.customers2.customer_id"]
_ORDERS_REFLECTION = (
    "ALTER DATASET dremio.demo.orders2 CREATE AGGREGATE REFLECTION o_refl "
    "USING DIMENSIONS (customer_id) MEASURES (amount (SUM, COUNT))"
)


def _routes(acc):
    """Thunks routing the three aggregate spellings one registry serves: a
    single-table aggregate, an aggregate over the join view by name and
    the same join spelled out."""
    return {
        "table": lambda: acc.route_aggregate(
            "dremio.demo.orders2", ["customer_id"],
            [("SUM", "amount", "total"), ("AVG", "amount", "avg_amt")],
        ),
        "view": lambda: acc.route_aggregate(
            "dremio.demo.customer_spend", ["tier"], [("MAX", "amount", "hi")],
        ),
        "join": lambda: acc.route_join_aggregate(
            _JOIN_TABLES, _JOIN_KEYS, ["region"],
            [("SUM", "amount", "total"), ("COUNT", "amount", "n")],
        ),
    }


def _plain(lake):
    from pyspark.sql import functions as F

    o = lake.table("dremio.demo.orders2").read()
    c = lake.table("dremio.demo.customers2").read()
    j = o.join(c, "customer_id")
    return {
        "table": o.groupBy("customer_id").agg(
            F.sum("amount").alias("total"), F.avg("amount").alias("avg_amt")
        ),
        "view": j.groupBy("tier").agg(F.max("amount").alias("hi")),
        "join": j.groupBy("region").agg(
            F.sum("amount").alias("total"), F.count("amount").alias("n")
        ),
    }


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_shapes_survive_a_registry_restart(join_runner, spark):
    """A fresh registry over the same warehouse routes every aggregate
    shape the registry file holds — in its own entry form and in the
    older form with separate single-dataset and join-subtree keys."""
    import json

    from apache_iceberg_lakehouse_workshop_spark.plans import AcceleratorRegistry

    join_runner.run(_ORDERS_REFLECTION)
    root = join_runner.lake.root
    want = {k: _rows(df) for k, df in _plain(join_runner.lake).items()}

    def check():
        routes = _routes(AcceleratorRegistry(Lakehouse(spark, root)))
        for kind, route in routes.items():
            df = route()
            assert df is not None, f"{kind} aggregate must route after a restart"
            assert _reads_reflection(df)
            assert _rows(df) == want[kind], kind

    check()
    path = join_runner.accelerator._registry_path
    with open(path) as f:
        entries = json.load(f)
    for e in entries.values():
        shape = e.pop("agg_shape", None)
        if shape is None:
            continue
        tables, keys = shape.pop("tables"), shape.pop("keys")
        e["agg_shape"] = shape
        if keys:
            e["join_shape"] = {**shape, "tables": tables, "keys": keys}
    assert any("join_shape" in e for e in entries.values())
    with open(path, "w") as f:
        json.dump(entries, f)
    check()


# Jobs of each reflection serve (route + collect) and upkeep
# (refresh_incremental_agg after one append), measured at 2, 4 and 8
# cores when single-table and join shapes still had a registry, a route
# and a refresh each.
REFLECTION_JOB_CEILINGS = {
    "route table": 2,
    "route view": 2,
    "route join": 2,
    "refresh table": 3,
    "refresh join fact": 4,
}


def test_reflection_job_ceilings(join_runner, count_jobs):
    """Serving a reflection and merging one append into it stay within
    their job ceilings for the single-table and the join shape alike."""
    join_runner.run(_ORDERS_REFLECTION)
    acc = join_runner.accelerator
    jobs = {}
    for kind, route in _routes(acc).items():
        jobs[f"route {kind}"] = count_jobs(lambda route=route: route().collect())[0]
    join_runner.run("INSERT INTO dremio.demo.orders2 VALUES (1, 500.0), (2, 3.0)")
    for kind, name in (("table", "o_refl"), ("join fact", "cs_refl")):
        n, ok = count_jobs(lambda name=name: acc.refresh_incremental_agg(name))
        assert ok is True
        jobs[f"refresh {kind}"] = n
    over = {k: (n, REFLECTION_JOB_CEILINGS[k]) for k, n in jobs.items()
            if n > REFLECTION_JOB_CEILINGS[k]}
    assert not over, f"jobs over ceiling (measured, ceiling): {over}; all: {jobs}"


def test_having_order_limit_served_from_reflection(runner):
    """HAVING over simple aggregate conjuncts rides the rollup as hidden
    measures (filtered post-rollup, then dropped); ORDER BY/LIMIT over
    output columns apply on the routed result — all value-identical to
    the plain plan."""
    runner.run(_REFLECTION)
    sql = (
        "SELECT region, SUM(amount) AS total FROM dremio.demo.sales "
        "GROUP BY region HAVING COUNT(amount) > 1 AND MIN(amount) >= 5"
    )
    out = runner.run(sql)
    assert _reads_reflection(out)
    got = {r.region: r.total for r in out.collect()}
    runner.use_reflection_routing = False
    want = {r.region: r.total for r in runner.run(sql).collect()}
    assert got == want == {"east": 35.0, "west": 27.0}
    runner.use_reflection_routing = True

    # HAVING agg not in the SELECT list; WHERE composes; ORDER BY + LIMIT
    topn = runner.run(
        "SELECT region, AVG(amount) AS avg_amt FROM dremio.demo.sales "
        "WHERE product <> 'c' GROUP BY region "
        "HAVING SUM(amount) > 10 ORDER BY avg_amt DESC LIMIT 1"
    )
    assert _reads_reflection(topn)
    rows = topn.collect()
    assert [(r.region, r.avg_amt) for r in rows] == [("east", 35.0 / 3)]

    # HAVING over a non-aggregate expression is not provable -> fallback
    nf = runner.run(
        "SELECT region, SUM(amount) AS total FROM dremio.demo.sales "
        "GROUP BY region HAVING SUM(amount) / COUNT(*) > 10"
    )
    assert not _reads_reflection(nf)
    # ORDER BY an expression not in the output -> fallback
    nf2 = runner.run(
        "SELECT region, SUM(amount) AS total FROM dremio.demo.sales "
        "GROUP BY region ORDER BY MAX(amount)"
    )
    assert not _reads_reflection(nf2)


def test_join_having_served_from_reflection(join_runner):
    sql = (
        "SELECT c.region, SUM(o.amount) AS total "
        "FROM dremio.demo.orders2 o "
        "JOIN dremio.demo.customers2 c ON o.customer_id = c.customer_id "
        "GROUP BY c.region HAVING COUNT(o.amount) > 2 ORDER BY total DESC"
    )
    out = join_runner.run(sql)
    assert _reads_reflection(out)
    got = [(r.region, r.total) for r in out.collect()]
    join_runner.use_reflection_routing = False
    want = [(r.region, r.total) for r in join_runner.run(sql).collect()]
    assert got == want == [("east", 131.0)]


# ----------------------------------------------- RAW reflection routing


_RAW_REFLECTION = """
ALTER DATASET dremio.demo.sales CREATE RAW REFLECTION sales_raw USING RAW
"""


def test_raw_reflection_serves_projection_filter(runner):
    """Round-7 #1: the workshop's headline acceleration is a USING RAW
    reflection serving subsequent NON-aggregate queries
    (readme.md:320-355). A projection + filter + ORDER BY + LIMIT over
    the dataset must scan the materialization, with values identical to
    the plain plan."""
    runner.run(_RAW_REFLECTION)
    sql = (
        "SELECT region, amount FROM dremio.demo.sales "
        "WHERE amount > 8 ORDER BY amount DESC LIMIT 3"
    )
    out = runner.run(sql)
    assert _reads_reflection(out), "plan must scan the RAW reflection"
    got = [(r.region, r.amount) for r in out.collect()]
    runner.use_reflection_routing = False
    want = [(r.region, r.amount) for r in runner.run(sql).collect()]
    assert got == want and len(got) == 3

    # SELECT * routes too (full RAW reflection stores every column)
    runner.use_reflection_routing = True
    star = runner.run("SELECT * FROM dremio.demo.sales WHERE region = 'east'")
    assert _reads_reflection(star)
    assert star.columns == ["region", "product", "amount"]
    assert sorted((r.region, r.product, r.amount) for r in star.collect()) == [
        ("east", "a", 10.0), ("east", "a", 20.0), ("east", "b", 5.0)
    ]


def test_double_quoted_predicate_column_matches_plain_plan(runner):
    """A Dremio double-quoted column in WHERE is an identifier; handed to
    a reflection read as written it would be a Spark string literal and
    the routed answer empty. Routed or not, the rows are the plain
    plan's."""
    runner.run(_RAW_REFLECTION)
    for sql in (
        """SELECT region, amount FROM dremio.demo.sales WHERE "region" = 'east'""",
        """SELECT region, SUM(amount) AS s FROM dremio.demo.sales """
        """WHERE "region" = 'east' GROUP BY region""",
    ):
        runner.use_reflection_routing = True
        got = sorted(map(tuple, runner.run(sql).collect()))
        runner.use_reflection_routing = False
        assert got == sorted(map(tuple, runner.run(sql).collect())) != []


def test_display_subset_covers_only_its_columns(runner):
    """A DISPLAY(cols) reflection serves queries over its column subset;
    a query touching any other column (in SELECT or WHERE) falls back."""
    runner.run(
        "ALTER DATASET dremio.demo.sales CREATE RAW REFLECTION sales_narrow "
        "USING DISPLAY (region, amount)"
    )
    covered = runner.run(
        "SELECT region FROM dremio.demo.sales WHERE amount >= 100"
    )
    assert _reads_reflection(covered)
    assert [r.region for r in covered.collect()] == ["north"]
    # uncovered SELECT column
    out = runner.run("SELECT region, product FROM dremio.demo.sales")
    assert not _reads_reflection(out)
    # uncovered WHERE column
    out = runner.run("SELECT region FROM dremio.demo.sales WHERE product = 'a'")
    assert not _reads_reflection(out)
    # SELECT * cannot be proven covered by a subset reflection
    out = runner.run("SELECT * FROM dremio.demo.sales")
    assert not _reads_reflection(out)


def test_raw_stale_falls_back_and_stays_correct(runner):
    runner.run(_RAW_REFLECTION)
    assert _reads_reflection(
        runner.run("SELECT region FROM dremio.demo.sales WHERE amount > 8")
    )
    runner.run("INSERT INTO dremio.demo.sales VALUES ('south', 'd', 42.0)")
    out = runner.run("SELECT region FROM dremio.demo.sales WHERE amount > 8")
    assert not _reads_reflection(out), "stale reflection must not serve"
    assert "south" in {r.region for r in out.collect()}


def test_raw_reflection_on_view_routes_by_either_name(runner):
    """Round-7 #5: the workshop declares reflections on VIEWS and queries
    them by view name (readme.md:307-329). Both the full and the leaf
    spelling must route; redefining the view invalidates the shape (the
    materialization holds the OLD definition's rows)."""
    runner.run(
        """
        CREATE OR REPLACE VIEW dremio.demo.big_sales AS
          SELECT region, product, amount FROM dremio.demo.sales WHERE amount >= 9;
        ALTER DATASET dremio.demo.big_sales CREATE RAW REFLECTION big_raw USING RAW;
        """
    )
    full = runner.run("SELECT region, amount FROM dremio.demo.big_sales")
    assert _reads_reflection(full)
    leaf = runner.run("SELECT region, amount FROM big_sales WHERE amount > 10")
    assert _reads_reflection(leaf)
    assert sorted((r.region, r.amount) for r in leaf.collect()) == [
        ("east", 20.0), ("north", 100.0), ("west", 11.0)
    ]
    # redefine the view: same anchors, different body -> must NOT route
    runner.run(
        "CREATE OR REPLACE VIEW dremio.demo.big_sales AS "
        "SELECT region, product, amount FROM dremio.demo.sales WHERE amount >= 20"
    )
    out = runner.run("SELECT region, amount FROM dremio.demo.big_sales")
    assert not _reads_reflection(out), "view drift must invalidate the shape"
    assert sorted((r.region, r.amount) for r in out.collect()) == [
        ("east", 20.0), ("north", 100.0)
    ]


def test_agg_reflection_on_view_drift_falls_back(runner):
    """View drift invalidates AGGREGATE shapes too: after redefining the
    view, a GROUP BY over it must run the plain plan (the stored partials
    aggregate the OLD rows)."""
    runner.run(
        """
        CREATE OR REPLACE VIEW dremio.demo.east_sales AS
          SELECT region, product, amount FROM dremio.demo.sales WHERE region = 'east';
        ALTER DATASET dremio.demo.east_sales CREATE AGGREGATE REFLECTION east_agg
        USING DIMENSIONS (product) MEASURES (amount (SUM, COUNT));
        """
    )
    sql = "SELECT product, SUM(amount) AS total FROM dremio.demo.east_sales GROUP BY product"
    assert _reads_reflection(runner.run(sql))
    runner.run(
        "CREATE OR REPLACE VIEW dremio.demo.east_sales AS "
        "SELECT region, product, amount FROM dremio.demo.sales WHERE region = 'west'"
    )
    out = runner.run(sql)
    assert not _reads_reflection(out)
    assert {r.product: r.total for r in out.collect()} == {"a": 7.0, "b": 20.0}


def test_advisor_recommends_raw_reflection_for_repeated_scans(spark, tmp_path):
    """Repeated narrow projection/filter scans become a RAW-reflection
    recommendation; accelerate() materializes it and the next scan
    routes."""
    lake = Lakehouse(spark, str(tmp_path / "warehouse"))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.sales (region VARCHAR, product VARCHAR, amount DOUBLE);
        INSERT INTO dremio.demo.sales VALUES
          ('east', 'a', 10.0), ('west', 'b', 9.0), ('north', 'c', 100.0);
        """
    )
    sql = "SELECT region, amount FROM dremio.demo.sales WHERE amount > 9"
    r.advisor  # turn on workload observation
    for _ in range(3):
        r.run(sql)
    recs = r.advisor.recommendations()
    raw_recs = [x for x in recs if "raw_cols" in x]
    assert raw_recs and set(raw_recs[0]["raw_cols"]) == {"region", "amount"}
    created = r.accelerate()
    assert raw_recs[0]["name"] in created
    r.use_reflection_routing = True
    out = r.run(sql)
    assert _reads_reflection(out)
    assert sorted((x.region, x.amount) for x in out.collect()) == [
        ("east", 10.0), ("north", 100.0)
    ]


def test_schema_evolution_staleness(spark, tmp_path):
    """Schema evolution is a metadata-only commit (current_snapshot_id
    unchanged) yet changes read results — reflections and the result cache
    must go stale. The killer case: drop + re-add a column (values now
    NULL) with NO new snapshot; a snapshot-only freshness check would keep
    serving the pre-drop values from the materialization."""
    from apache_iceberg_lakehouse_workshop_spark.plans import (
        AcceleratorRegistry,
        Lakehouse,
    )

    lake = Lakehouse(spark, str(tmp_path / "wh"))
    t = lake.create_table("db.ev", "id INT, tag STRING")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, tag STRING"))
    reg = AcceleratorRegistry(lake)
    reg.create_reflection(
        "ev_raw", lambda: lake.table("db.ev").read(), ["db.ev"]
    )
    assert reg.is_fresh("ev_raw")
    assert {r.id: r.tag for r in reg.resolve("ev_raw").collect()} == {1: "a", 2: "b"}

    t.drop_column("tag")
    t.add_column("tag", "STRING")  # same snapshot id, different read results
    assert not reg.is_fresh("ev_raw")
    # resolve() recomputes live: the re-added column reads NULL, not 'a'/'b'
    assert {r.id: r.tag for r in reg.resolve("ev_raw").collect()} == {1: None, 2: None}
    # refresh records the new epoch; fresh again until the NEXT evolution
    reg.refresh("ev_raw")
    assert reg.is_fresh("ev_raw")
    t.widen_column("id", "BIGINT")
    assert not reg.is_fresh("ev_raw")


# --------------------------------------------- RAW join-shape routing


_JOIN_VIEW = """
CREATE TABLE dremio.demo.customers (cust_id INT, name VARCHAR);
INSERT INTO dremio.demo.customers VALUES (1, 'ana'), (2, 'bo');
CREATE TABLE dremio.demo.orders (order_id INT, cust_id INT, amount DOUBLE);
INSERT INTO dremio.demo.orders VALUES (10, 1, 5.0), (11, 1, 7.0), (12, 2, 9.0);
CREATE OR REPLACE VIEW dremio.demo.cust_orders AS
  SELECT c.name AS cust_name, o.order_id, o.amount
  FROM dremio.demo.customers c
  JOIN dremio.demo.orders o ON c.cust_id = o.cust_id;
"""
_JOIN_SETUP = _JOIN_VIEW + """
ALTER DATASET dremio.demo.cust_orders CREATE RAW REFLECTION co_raw USING RAW;
"""
_CO_TABLES = ["dremio.demo.customers", "dremio.demo.orders"]
_CO_KEYS = ["dremio.demo.customers.cust_id=dremio.demo.orders.cust_id"]
_CO_ALIASES = {"c": "dremio.demo.customers", "o": "dremio.demo.orders"}


def test_raw_join_shape_routes_explicit_join(runner):
    """Round-8 #1: a RAW reflection on a join VIEW serves a query that
    spells the SAME join explicitly — with different aliases and the
    equi-key sides swapped (canonical join-subtree identity,
    readme.md:331-355)."""
    runner.run(_JOIN_SETUP)
    sql = (
        "SELECT x.name AS cust_name, y.amount "
        "FROM dremio.demo.customers x "
        "JOIN dremio.demo.orders y ON y.cust_id = x.cust_id "
        "WHERE y.amount > 5 ORDER BY y.amount DESC"
    )
    out = runner.run(sql)
    assert _reads_reflection(out), "explicit join must scan the RAW reflection"
    got = [(r.cust_name, r.amount) for r in out.collect()]
    runner.use_reflection_routing = False
    want = [(r.cust_name, r.amount) for r in runner.run(sql).collect()]
    assert got == want == [("bo", 9.0), ("ana", 7.0)]


def test_raw_join_shape_uncovered_column_falls_back(runner):
    runner.run(_JOIN_SETUP)
    # c.cust_id is not projected by the view: must fall back, stay correct
    sql = (
        "SELECT c.cust_id, o.amount FROM dremio.demo.customers c "
        "JOIN dremio.demo.orders o ON c.cust_id = o.cust_id"
    )
    out = runner.run(sql)
    assert not _reads_reflection(out)
    assert sorted((r.cust_id, r.amount) for r in out.collect()) == [
        (1, 5.0), (1, 7.0), (2, 9.0)
    ]
    # WHERE over an unprojected column falls back too
    sql2 = (
        "SELECT o.amount FROM dremio.demo.customers c "
        "JOIN dremio.demo.orders o ON c.cust_id = o.cust_id "
        "WHERE c.cust_id = 2"
    )
    out2 = runner.run(sql2)
    assert not _reads_reflection(out2)
    assert [r.amount for r in out2.collect()] == [9.0]


def test_raw_join_shape_stale_falls_back(runner):
    runner.run(_JOIN_SETUP)
    sql = (
        "SELECT c.name AS cust_name, o.amount FROM dremio.demo.customers c "
        "JOIN dremio.demo.orders o ON c.cust_id = o.cust_id"
    )
    assert _reads_reflection(runner.run(sql))
    runner.run("INSERT INTO dremio.demo.orders VALUES (13, 2, 99.0)")
    out = runner.run(sql)
    assert not _reads_reflection(out), "stale reflection must not serve"
    assert 99.0 in {r.amount for r in out.collect()}


def test_raw_join_shape_different_join_never_matches(runner):
    """A query over a DIFFERENT join (other key) must not be served."""
    runner.run(_JOIN_SETUP)
    sql = (
        "SELECT c.name AS cust_name, o.amount FROM dremio.demo.customers c "
        "JOIN dremio.demo.orders o ON c.cust_id = o.order_id"
    )
    out = runner.run(sql)
    assert not _reads_reflection(out)
    assert out.count() == 0  # no order_id equals a cust_id


def test_advisor_raw_reflection_on_join_view_routes_explicit_join(runner):
    """A RAW reflection the advisor creates on a join view carries the
    view's join subtree like a declared one, so the same join spelled out
    against the base tables reads it too."""
    runner.run(_JOIN_VIEW)
    runner.advisor  # turn on workload observation
    for _ in range(3):
        runner.run(
            "SELECT cust_name, amount FROM dremio.demo.cust_orders WHERE amount > 6"
        )
    assert "auto_raw_cust_orders_amount_cust_name" in runner.accelerate()
    out = runner.run(
        "SELECT c.name, o.amount FROM dremio.demo.orders o "
        "JOIN dremio.demo.customers c ON o.cust_id = c.cust_id WHERE o.amount > 6"
    )
    assert _reads_reflection(out)
    assert sorted(map(tuple, out.collect())) == [("ana", 7.0), ("bo", 9.0)]


def test_raw_route_reads_storage_once(runner, monkeypatch):
    """Serving a USING RAW reflection reads its storage once: the stored
    columns come from the table's metadata, not from a second read."""
    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable

    runner.run(_RAW_REFLECTION)
    reads = []
    read = LakeTable.read

    def spy(self, *a, **kw):
        reads.append(self.name)
        return read(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "read", spy)
    out = runner.accelerator.route_raw("dremio.demo.sales", None, where="amount > 8")
    assert reads == ["_reflections.sales_raw"]
    assert sorted(map(tuple, out.collect())) == [
        ("east", "a", 10.0), ("east", "a", 20.0), ("north", "c", 100.0),
        ("west", "b", 9.0), ("west", "b", 11.0),
    ]


def test_raw_shapes_survive_a_parent_format_registry(runner, spark):
    """A registry file that keeps a RAW reflection's dataset shape and its
    join subtree under separate keys loads into one shape per reflection,
    and a fresh registry routes the view name, the explicit join and a
    DISPLAY table reflection from it."""
    import json

    from apache_iceberg_lakehouse_workshop_spark.plans import AcceleratorRegistry

    runner.run(
        _JOIN_SETUP
        + "ALTER DATASET dremio.demo.sales CREATE RAW REFLECTION sales_narrow "
        "USING DISPLAY (region, amount);"
    )
    path = runner.accelerator._registry_path
    with open(path) as f:
        entries = json.load(f)
    body = runner.views["dremio.demo.cust_orders"]
    for e in entries.values():
        e.pop("raw_shape", None)
    entries["co_raw"]["raw_shape"] = {
        "dataset": "dremio.demo.cust_orders", "cols": None, "view_body": body,
    }
    entries["co_raw"]["raw_join_shape"] = {
        "tables": _CO_TABLES,
        "keys": _CO_KEYS,
        "colmap": {
            "dremio.demo.customers.name": "cust_name",
            "dremio.demo.orders.order_id": "order_id",
            "dremio.demo.orders.amount": "amount",
        },
        "view_body": body,
        "dataset": "dremio.demo.cust_orders",
        "aggs": None,
    }
    entries["sales_narrow"]["raw_shape"] = {
        "dataset": "dremio.demo.sales", "cols": ["region", "amount"],
        "view_body": None,
    }
    with open(path, "w") as f:
        json.dump(entries, f)

    acc = AcceleratorRegistry(Lakehouse(spark, runner.lake.root))
    by_view = acc.route_raw(
        "dremio.demo.cust_orders", ["cust_name", "amount"], where="amount > 6"
    )
    by_join = acc.route_raw_join(
        _CO_TABLES, _CO_KEYS, [("c.name", "cust_name"), ("o.amount", "amount")],
        where="o.amount > 6", aliases=_CO_ALIASES,
    )
    by_table = acc.route_raw("dremio.demo.sales", ["region"], where="amount > 50")
    for df in (by_view, by_join, by_table):
        assert df is not None and _reads_reflection(df)
    assert sorted(map(tuple, by_view.collect())) == [("ana", 7.0), ("bo", 9.0)]
    assert sorted(map(tuple, by_join.collect())) == [("ana", 7.0), ("bo", 9.0)]
    assert [r.region for r in by_table.collect()] == ["north"]


# Jobs of each RAW serve (route + collect), measured at 2, 4 and 8 cores
# when view-name and join-subtree shapes still had a registry each.
RAW_JOB_CEILINGS = {"view": 1, "join": 1, "agg join": 3}


def test_raw_reflection_job_ceilings(runner, count_jobs):
    """Serving a RAW reflection stays within its job ceiling by the view
    name, by the join spelled out and by an aggregate join view's groups."""
    runner.run(_JOIN_SETUP + _SPEND_SETUP)
    acc = runner.accelerator
    spend_aliases = {"c": "dremio.demo.cust2", "o": "dremio.demo.ord2"}
    routes = {
        "view": lambda: acc.route_raw(
            "dremio.demo.cust_orders", ["cust_name", "amount"], where="amount > 5"
        ),
        "join": lambda: acc.route_raw_join(
            _CO_TABLES, _CO_KEYS, [("c.name", "cust_name"), ("o.amount", "amount")],
            where="o.amount > 5", aliases=_CO_ALIASES,
        ),
        "agg join": lambda: acc.route_raw_agg_join(
            ["dremio.demo.cust2", "dremio.demo.ord2"],
            ["dremio.demo.cust2.id=dremio.demo.ord2.customer_id"],
            [("c.name", "name")], [("SUM", "o.amount", "total_spent")],
            aliases=spend_aliases, order=[("name", False)],
        ),
    }
    jobs, rows = {}, {}
    for kind, route in routes.items():
        jobs[kind], rows[kind] = count_jobs(lambda route=route: route().collect())
    assert sorted(map(tuple, rows["view"])) == [("ana", 7.0), ("bo", 9.0)]
    assert sorted(map(tuple, rows["join"])) == [("ana", 7.0), ("bo", 9.0)]
    assert list(map(tuple, rows["agg join"])) == [("ana", 12.0), ("bo", 9.0)]
    over = {k: (n, RAW_JOB_CEILINGS[k]) for k, n in jobs.items()
            if n > RAW_JOB_CEILINGS[k]}
    assert not over, f"jobs over ceiling (measured, ceiling): {over}; all: {jobs}"


# ------------------------------------------------- advisor benefit gate


def test_show_recommendations_and_accelerate_sql(spark, tmp_path):
    """Round-10: the autonomous lifecycle's SQL window — SHOW
    RECOMMENDATIONS lists the advisor's pending shapes as a relation and
    ACCELERATE materializes them; a satisfied recommendation disappears."""
    from pyspark.sql import functions as F

    lake = Lakehouse(spark, str(tmp_path / "whsr"))
    df = spark.range(3000).select(
        (F.col("id") % 4).cast("string").alias("kind"),
        (F.col("id") % 3).cast("double").alias("val"),
    )
    lake.create_table_as("dremio.demo.ev2", df)
    r = ScriptRunner(lake)
    _ = r.advisor
    low = "SELECT kind, SUM(val) AS s FROM dremio.demo.ev2 GROUP BY kind"
    for _ in range(3):
        r.run(low)
    recs = r.run("SHOW RECOMMENDATIONS")
    assert recs.columns == [
        "name", "kind", "dataset", "hits", "refused_reason"
    ]
    names = [x.name for x in recs.collect()]
    assert any("kind" in n for n in names), names
    created = sorted(x.created for x in r.run("ACCELERATE").collect())
    assert created == sorted(names)
    assert r.run("SHOW RECOMMENDATIONS").count() == 0


def test_advisor_benefit_gate(spark, tmp_path):
    """Round-8 #4: before materializing, the advisor estimates the
    rows-per-group reduction — a low-cardinality shape is created, a
    high-cardinality shape (partials ~ anchor rows) is refused with a
    reason surfaced in recommendations() (readme.md:381-389
    'intelligently determines')."""
    from pyspark.sql import functions as F

    lake = Lakehouse(spark, str(tmp_path / "whg"))
    df = spark.range(5000).select(
        F.col("id").alias("uid"),
        (F.col("id") % 4).cast("string").alias("kind"),
        (F.col("id") % 3).cast("double").alias("val"),
    )
    lake.create_table_as("dremio.demo.evts", df)
    r = ScriptRunner(lake)
    _ = r.advisor
    low = "SELECT kind, SUM(val) AS s FROM dremio.demo.evts GROUP BY kind"
    high = "SELECT uid, SUM(val) AS s FROM dremio.demo.evts GROUP BY uid"
    for _i in range(3):
        r.run(low)
        r.run(high)
    created = r.accelerate()
    assert any("kind" in n for n in created), created
    assert not any("uid" in n for n in created), created
    refused = {
        rec["name"]: rec.get("refused_reason")
        for rec in r.advisor.recommendations()
    }
    uid_recs = [v for k, v in refused.items() if "uid" in k]
    assert uid_recs and "threshold" in uid_recs[0]
    # round-9 #7: the refusal seeds the RAW alternative — re-apply
    # materializes auto_raw_* on the refused shape's projected columns
    # (uid + val), and nothing else; the AGG refusal itself stays sticky
    second = r.accelerate()
    assert second and all(n.startswith("auto_raw_") for n in second), second
    assert r.accelerate() == []
    # the low-cardinality reflection genuinely routes
    r.use_reflection_routing = True
    out = r.run(low)
    assert _reads_reflection(out)
    # the refused-as-AGG query now routes through the RAW fallback: the
    # aggregate re-computes over the column-pruned raw storage
    out2 = r.run(high)
    assert _reads_reflection(out2)
    assert sorted((x.uid, x.s) for x in out2.collect()) == sorted(
        (i, float(i % 3) * 1) for i in range(5000)
    )


_SPEND_SETUP = """
CREATE TABLE dremio.demo.cust2 (id INT, name VARCHAR);
INSERT INTO dremio.demo.cust2 VALUES (1, 'ana'), (2, 'bo');
CREATE TABLE dremio.demo.ord2 (customer_id INT, amount DOUBLE);
INSERT INTO dremio.demo.ord2 VALUES (1, 5.0), (1, 7.0), (2, 9.0);
CREATE OR REPLACE VIEW dremio.demo.customer_spend AS
  SELECT c.name, SUM(o.amount) AS total_spent
  FROM dremio.demo.cust2 c
  JOIN dremio.demo.ord2 o ON c.id = o.customer_id
  GROUP BY c.name;
ALTER DATASET dremio.demo.customer_spend
  CREATE RAW REFLECTION customer_spend_reflection USING RAW;
"""


def test_raw_reflection_on_aggregate_join_view_serves_explicit_spelling(runner):
    """The workshop's literal headline (readme.md:307-355): a RAW
    reflection on customer_spend — an AGGREGATE over a join — must serve
    the same aggregate SPELLED EXPLICITLY against the base tables
    (different aliases, swapped key sides), by exact-dims matching on the
    stored groups."""
    runner.run(_SPEND_SETUP)
    sql = (
        "SELECT x.name, SUM(y.amount) AS total_spent "
        "FROM dremio.demo.cust2 x "
        "JOIN dremio.demo.ord2 y ON y.customer_id = x.id "
        "GROUP BY x.name"
    )
    out = runner.run(sql)
    assert _reads_reflection(out), "explicit aggregate must scan the reflection"
    got = {r.name: r.total_spent for r in out.collect()}
    runner.use_reflection_routing = False
    want = {r.name: r.total_spent for r in runner.run(sql).collect()}
    assert got == want == {"ana": 12.0, "bo": 9.0}

    # a DIFFERENT dims set (subset/superset) must NOT be served by the
    # RAW materialization (stored rows are groups of exactly c.name)
    runner.use_reflection_routing = True
    other = runner.run(
        "SELECT x.id, SUM(y.amount) AS total_spent "
        "FROM dremio.demo.cust2 x "
        "JOIN dremio.demo.ord2 y ON y.customer_id = x.id GROUP BY x.id"
    )
    assert not _reads_reflection(other)
    # a different AGG over the same dims must not match either
    other2 = runner.run(
        "SELECT x.name, AVG(y.amount) AS total_spent "
        "FROM dremio.demo.cust2 x "
        "JOIN dremio.demo.ord2 y ON y.customer_id = x.id GROUP BY x.name"
    )
    assert not _reads_reflection(other2)
    # WHERE over the dim filters the stored groups exactly; view-name
    # queries keep routing through the plain RAW shape
    filt = runner.run(
        "SELECT c.name, SUM(o.amount) AS total_spent "
        "FROM dremio.demo.cust2 c JOIN dremio.demo.ord2 o "
        "ON c.id = o.customer_id WHERE c.name = 'bo' GROUP BY c.name"
    )
    assert _reads_reflection(filt)
    assert {r.name: r.total_spent for r in filt.collect()} == {"bo": 9.0}
    # staleness falls back
    runner.run("INSERT INTO dremio.demo.ord2 VALUES (2, 100.0)")
    stale = runner.run(sql)
    assert not _reads_reflection(stale)
    assert {r.name: r.total_spent for r in stale.collect()}["bo"] == 109.0
    # a DISPLAY of the dims alone still stores groups: the join spelled
    # out WITHOUT the aggregate has one row per join row, never served
    runner.run(
        "ALTER DATASET dremio.demo.customer_spend "
        "CREATE RAW REFLECTION cs_names USING DISPLAY (name)"
    )
    rows = runner.run(
        "SELECT c.name FROM dremio.demo.cust2 c "
        "JOIN dremio.demo.ord2 o ON c.id = o.customer_id"
    )
    assert sorted(r.name for r in rows.collect()) == ["ana", "ana", "bo", "bo"]


_MEASURE_ITEMS = {
    "SUM(a.b.c) AS x": ("SUM", "a.b.c", "x"),
    "COUNT(*) AS n": ("COUNT", "*", "n"),
    "APPROX_COUNT_DISTINCT(c) AS d": ("APPROX_COUNT_DISTINCT", "c", "d"),
}


@pytest.mark.parametrize("item", sorted(_MEASURE_ITEMS))
@pytest.mark.parametrize(
    "route", ["rollup", "raw aggregate join", "raw aggregate join view"]
)
def test_one_measure_grammar_each_route_its_rule(route, item, request):
    """Every route reads an aliased measure with the one grammar
    (``accelerator.parse_measure``) and keeps the aggregate functions its
    rule names: a rollup serves APPROX_COUNT_DISTINCT from its sketch
    partial, the RAW aggregate-join routes fall back on it. A view body
    also needs each measure's argument to be ``alias.col`` of its join,
    so ``a.b.c`` leaves the view routable by its name only."""
    from apache_iceberg_lakehouse_workshop_spark.plans.accelerator import (
        RAW_AGG_JOIN_AGGS,
        ROLLUP_AGGS,
    )
    from apache_iceberg_lakehouse_workshop_spark.plans.advisor import WorkloadAdvisor

    want = _MEASURE_ITEMS[item]
    if route == "rollup":
        parsed = WorkloadAdvisor._parse_select_items(f"g, {item}", "g")
        got = parsed[1] if parsed else None
        rule = ROLLUP_AGGS
    elif route == "raw aggregate join":
        parsed = WorkloadAdvisor._parse_qualified_join_agg(f"t.g, {item}", "t.g")
        got = parsed[1] if parsed else None
        rule = RAW_AGG_JOIN_AGGS
    else:
        runner = request.getfixturevalue("runner")
        runner.run(_SPEND_SETUP)
        sub = runner.accelerator._raw_subtree(
            f"SELECT c.name, {item} FROM dremio.demo.cust2 c "
            "JOIN dremio.demo.ord2 o ON c.id = o.customer_id GROUP BY c.name",
            None,
        )
        got = [tuple(a) for a in sub[3]] if sub else None
        # of the three arguments only `*` is a view column
        rule = RAW_AGG_JOIN_AGGS if want[1] == "*" else frozenset()
    assert got == ([want] if want[0] in rule else None)


# ------------------------------------- property-based routing soundness

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@pytest.fixture(scope="module")
def rt(spark, tmp_path_factory):
    lake = Lakehouse(spark, str(tmp_path_factory.mktemp("whprop")))
    r = ScriptRunner(lake)
    r.run(
        """
        CREATE TABLE dremio.demo.pc (cid INT, seg VARCHAR, bal DOUBLE);
        INSERT INTO dremio.demo.pc VALUES (1,'A',10.0),(2,'B',20.0),(3,'A',30.0);
        CREATE TABLE dremio.demo.po (oid INT, cid INT, amt DOUBLE, status VARCHAR);
        INSERT INTO dremio.demo.po VALUES
          (10,1,5.0,'F'),(11,1,7.5,'O'),(12,2,9.0,'F'),(13,3,2.0,'O'),(14,3,8.0,'F');
        CREATE OR REPLACE VIEW dremio.demo.pco AS
          SELECT c.seg AS seg, c.bal, o.oid, o.amt, o.status
          FROM dremio.demo.pc c JOIN dremio.demo.po o ON c.cid = o.cid;
        ALTER DATASET dremio.demo.pco CREATE RAW REFLECTION pco_raw USING RAW;
        ALTER DATASET dremio.demo.po CREATE RAW REFLECTION po_disp
          USING DISPLAY (oid, amt, status);
        """
    )
    r.use_reflection_routing = True
    return r


# (side, column, covered?) — cid is joined on but NOT projected by the view
_RT_COLS = [
    ("c", "seg", True), ("c", "bal", True),
    ("o", "oid", True), ("o", "amt", True), ("o", "status", True),
    ("c", "cid", False),
]
_RT_WHERES = [
    None,
    ("{o}.amt > 5", True),
    ("{c}.seg = 'A'", True),
    ("{o}.status = 'F' AND {o}.amt >= 5", True),
    ("{c}.cid = 1", False),  # uncovered predicate column -> must fall back
]
# the single-table DISPLAY reflection po_disp, queried by table name
_RT_PO_COLS = [("oid", True), ("amt", True), ("status", True), ("cid", False)]
_RT_PO_WHERES = [
    None,
    ("amt > 5", True),
    ("status = 'F' AND amt >= 5", True),
    ("cid = 1", False),
]


@given(st.data())
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.too_slow,
                                 HealthCheck.function_scoped_fixture])
def test_raw_join_routing_matches_plain_plan(rt, data):
    """Round-8 property: for ANY aliasing, table order, key-side order,
    column subset, and covered/uncovered WHERE over the explicitly
    spelled join — or over the single table ``po`` by name — the routed
    answer equals the plain plan, and routing engages exactly when every
    referenced column is covered."""
    one_table = data.draw(st.booleans())
    ca, oa = data.draw(st.sampled_from(
        [("c", "o"), ("x", "y"), ("l", "r"), ("po", "pc")]))
    swap_tables = data.draw(st.booleans())
    swap_key = data.draw(st.booleans())
    with_order = data.draw(st.booleans())

    if one_table:
        cols = data.draw(st.lists(st.sampled_from(_RT_PO_COLS), min_size=1,
                                  max_size=3, unique=True))
        where_t = data.draw(st.sampled_from(_RT_PO_WHERES))
        sql = f"SELECT {', '.join(c for c, _cov in cols)} FROM dremio.demo.po"
        covered = all(cov for _c, cov in cols)
        order = "oid"
    else:
        cols = data.draw(st.lists(st.sampled_from(_RT_COLS), min_size=1,
                                  max_size=4, unique=True))
        where_t = data.draw(st.sampled_from(_RT_WHERES))
        sel = ", ".join(
            f"{ca if side == 'c' else oa}.{col}" for side, col, _cov in cols
        )
        t1 = f"dremio.demo.pc {ca}"
        t2 = f"dremio.demo.po {oa}"
        frm = f"{t2} JOIN {t1}" if swap_tables else f"{t1} JOIN {t2}"
        on = f"{oa}.cid = {ca}.cid" if swap_key else f"{ca}.cid = {oa}.cid"
        sql = f"SELECT {sel} FROM {frm} ON {on}"
        covered = all(cov for _s, _c, cov in cols)
        order = f"{oa}.oid"
    if where_t is not None:
        w, w_cov = where_t
        sql += " WHERE " + w.format(c=ca, o=oa)
        covered = covered and w_cov
    if with_order:
        sql += f" ORDER BY {order}"

    rt.use_reflection_routing = True
    routed_df = rt.run(sql)
    routed_used = any("_reflections" in f for f in routed_df.inputFiles())
    got = [tuple(r) for r in routed_df.collect()]
    rt.use_reflection_routing = False
    want = [tuple(r) for r in rt.run(sql).collect()]
    rt.use_reflection_routing = True
    if with_order:
        assert got == want
    else:
        assert sorted(got, key=repr) == sorted(want, key=repr)
    assert routed_used == covered, (sql, routed_used, covered)
