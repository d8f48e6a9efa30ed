"""Verbatim reference-script execution (plans/script.ScriptRunner).

The gold check: /root/reference/industry-examples/finance_example.sql runs
unmodified — namespaces, day-partitioned tables, INSERT VALUES, stacked
silver/gold views — and the P&L output matches hand-computed values.
"""

import decimal
import os

import pytest
from pyspark.sql import functions as F

from apache_iceberg_lakehouse_workshop_spark.dialect import split_statements
from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

REF_DIR = "/root/reference/industry-examples"
FINANCE_SQL = f"{REF_DIR}/finance_example.sql"
requires_reference = pytest.mark.skipif(
    not os.path.isdir(REF_DIR),
    reason=f"workshop reference scripts absent ({REF_DIR})",
)


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def test_split_statements_comment_aware():
    sql = """-- banner; with 'quote' and ; semicolon
    SELECT 1 AS a; /* block ; 'c' */ SELECT 'x;y' AS b -- tail
    ; SELECT "q;id" FROM t"""
    out = split_statements(sql)
    assert out == ["SELECT 1 AS a", "SELECT 'x;y' AS b", 'SELECT "q;id" FROM t']


@requires_reference
def test_finance_example_verbatim(lake):
    """finance_example.sql:4-109 executes end-to-end; the gold P&L view
    returns exactly the 8 hand-computed rows:
    BUY:  (close - exec) * qty,  SELL: (exec - close) * qty."""
    with open(FINANCE_SQL) as f:
        lake.run_script(f.read())

    # tables created with the declared partitioning
    assert lake.table_exists("dremio.finance.raw.trades")
    assert lake.table_exists("dremio.finance.raw.daily_prices")
    t = lake.table("dremio.finance.raw.trades")
    assert t._load_meta()["partition_by"] == ["days(trade_ts)"]
    assert t.read().count() == 8
    assert lake.table("dremio.finance.raw.daily_prices").read().count() == 12

    out = lake.run_script(
        "SELECT account_id, symbol, trade_date, pnl"
        " FROM dremio.finance.gold.pnl_by_account_symbol"
    )
    got = {
        (r.account_id, r.symbol, str(r.trade_date)): decimal.Decimal(r.pnl)
        for r in out.collect()
    }
    expected = {
        ("ACC-001", "AAPL", "2025-08-18"): decimal.Decimal("52.50"),   # (194.25-193.20)*50
        ("ACC-002", "AAPL", "2025-08-18"): decimal.Decimal("-3.00"),   # (194.10-194.25)*20
        ("ACC-001", "MSFT", "2025-08-18"): decimal.Decimal("16.50"),   # (424.10-423.55)*30
        ("ACC-003", "GOOG", "2025-08-19"): decimal.Decimal("2.50"),    # (171.05-170.80)*10
        ("ACC-002", "AAPL", "2025-08-19"): decimal.Decimal("6.75"),    # (195.50-195.05)*15
        ("ACC-001", "MSFT", "2025-08-19"): decimal.Decimal("3.50"),    # (424.25-423.90)*10
        ("ACC-003", "GOOG", "2025-08-20"): decimal.Decimal("-1.00"),   # (171.40-171.60)*5
        ("ACC-004", "AMZN", "2025-08-20"): decimal.Decimal("3.60"),    # (183.40-183.10)*12
    }
    assert len(got) == 8
    for key, want in expected.items():
        assert got[key] == want, key

    # silver view also queryable by its leaf name (legacy surface)
    enriched = lake.run_script("SELECT COUNT(*) AS n FROM trades_enriched")
    assert enriched.first().n == 8


def test_script_ddl_dml_roundtrip(lake, spark):
    """The logistics/retail statement shapes: CREATE..PARTITION BY(DAY(ts)),
    DELETE FROM (full clear + predicate), DROP TABLE IF EXISTS, CTAS with
    DISTRIBUTE BY, INSERT INTO .. SELECT."""
    lake.run_script(
        """
        CREATE FOLDER IF NOT EXISTS dremio.lgx.raw;
        CREATE TABLE IF NOT EXISTS dremio.lgx.raw.events (
          event_id   BIGINT,
          status     VARCHAR,
          note       VARCHAR,
          event_ts   TIMESTAMP
        )
        PARTITION BY (DAY(event_ts));
        DELETE FROM dremio.lgx.raw.events;  -- for repeatable runs
        INSERT INTO dremio.lgx.raw.events (event_id, status, note, event_ts) VALUES
          (1, 'DELIVERED', 'on time', TIMESTAMP '2025-08-18 10:00:00'),
          (2, 'DELAYED', NULL, TIMESTAMP '2025-08-19 11:00:00'),
          (3, 'DELIVERED', 'left at door', TIMESTAMP '2025-08-19 12:00:00');
        """
    )
    t = lake.table("dremio.lgx.raw.events")
    assert t.read().count() == 3

    # NULL-predicate DELETE keeps the NULL-note row (SQL DELETE semantics)
    lake.run_script("DELETE FROM dremio.lgx.raw.events WHERE note LIKE 'on%'")
    assert {r.event_id for r in t.read().collect()} == {2, 3}

    lake.run_script(
        """
        DROP TABLE IF EXISTS dremio.lgx.silver.events_clean;
        CREATE TABLE dremio.lgx.silver.events_clean
        PARTITION BY (event_date)
        DISTRIBUTE BY (event_id)
        AS
        SELECT event_id, UPPER(TRIM(status)) AS status_std,
               TO_DATE(event_ts) AS event_date
        FROM dremio.lgx.raw.events;
        """
    )
    clean = lake.table("dremio.lgx.silver.events_clean")
    assert {r.status_std for r in clean.read().collect()} == {"DELAYED", "DELIVERED"}

    # INSERT INTO .. SELECT appends through the same positional contract
    lake.run_script(
        "INSERT INTO dremio.lgx.silver.events_clean "
        "SELECT event_id + 10, status, TO_DATE(event_ts) FROM dremio.lgx.raw.events"
    )
    assert clean.read().count() == 4
    # DROP without IF EXISTS on a missing table raises
    with pytest.raises(ValueError):
        lake.run_script("DROP TABLE dremio.lgx.silver.missing")


@requires_reference
def test_copy_into_example_verbatim(lake, tmp_path):
    """COPY INTO EXAMPLE/example.sql runs unmodified against its 5 shipped
    CSVs: the '@s3/...' source handle maps to a local root, the REGEX /
    FILE_FORMAT / option block parse, and every CSV data row lands."""
    import shutil

    src_dir = f"{REF_DIR}/COPY INTO EXAMPLE"
    # lay the shipped CSVs out under the path the script's '@s3' URI names
    root = tmp_path / "s3root"
    dest = root / "alex-merced-demo-2026" / "copy-into-example"
    dest.mkdir(parents=True)
    expected_rows = 0
    for f in sorted(os.listdir(src_dir)):
        if f.endswith(".csv"):
            shutil.copy(os.path.join(src_dir, f), dest / f)
            with open(os.path.join(src_dir, f)) as fh:
                expected_rows += sum(1 for line in fh if line.strip()) - 1  # minus header

    with open(os.path.join(src_dir, "example.sql")) as f:
        lake.run_script(f.read(), source_roots={"s3": str(root)})

    t = lake.table("dremio.copy_demo.transactions")
    df = t.read()
    assert df.count() == expected_rows
    assert df.columns == ["id", "name", "amount", "event_date"]
    got = {r.id: (r.name, r.amount, str(r.event_date)) for r in df.collect()}
    assert got[1] == ("Alice", 10.5, "2024-01-01")
    # declared types applied (DOUBLE amount, DATE event_date)
    assert dict(df.dtypes)["amount"] == "double"
    assert dict(df.dtypes)["event_date"] == "date"


def test_create_reflection_sql(lake):
    """readme.md:322-326 verbatim: ALTER DATASET … CREATE REFLECTION …
    USING RAW on a view, resolved through SQL — materialized scan when
    fresh, transparent recompute after the anchor table advances."""
    lake.run_script(
        """
        CREATE FOLDER IF NOT EXISTS dremio.demo;
        CREATE TABLE dremio.demo.orders (customer_id BIGINT, amount DOUBLE);
        INSERT INTO dremio.demo.orders VALUES (10, 100.0), (10, 75.0), (11, 250.0);
        CREATE OR REPLACE VIEW dremio.demo.customer_spend AS
        SELECT customer_id, SUM(amount) AS total_spend
        FROM dremio.demo.orders GROUP BY customer_id;
        ALTER DATASET dremio.demo.customer_spend
        CREATE REFLECTION customer_spend_reflection
        USING RAW;
        """
    )
    runner = lake._script_runner
    acc = runner.accelerator
    assert acc.is_fresh("customer_spend_reflection")
    # fresh: the SQL-visible reflection serves from storage (no Aggregate)
    out = lake.run_script("SELECT * FROM customer_spend_reflection")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan
    assert {(r.customer_id, r.total_spend) for r in out.collect()} == {
        (10, 175.0), (11, 250.0),
    }

    # anchor advances -> stale -> recompute stays correct
    lake.run_script("INSERT INTO dremio.demo.orders VALUES (11, 50.0)")
    assert not acc.is_fresh("customer_spend_reflection")
    out2 = lake.run_script("SELECT * FROM customer_spend_reflection")
    assert {(r.customer_id, r.total_spend) for r in out2.collect()} == {
        (10, 175.0), (11, 300.0),
    }

    # aggregation reflection + drop
    lake.run_script(
        """ALTER DATASET dremio.demo.orders
           CREATE AGGREGATE REFLECTION spend_agg
           USING DIMENSIONS (customer_id) MEASURES (amount (SUM, COUNT))"""
    )
    agg = lake.run_script("SELECT * FROM spend_agg")
    got = {(r.customer_id, r.amount_sum, r.amount_count) for r in agg.collect()}
    assert got == {(10, 175.0, 2), (11, 300.0, 2)}
    lake.run_script("ALTER DATASET dremio.demo.orders DROP REFLECTION spend_agg")
    assert [e["name"] for e in acc.status()] == ["customer_spend_reflection"]


@requires_reference
def test_retail_silver_ctas_stack(lake):
    """retail.sql:17-100 prefix verbatim: raw DDL + inserts + the first
    DROP+CTAS silver step, then a hand-checked rollup."""
    with open(f"{REF_DIR}/retail.sql") as f:
        script = f.read()
    # run the raw layer + first silver CTAS (statements up to orders_clean)
    stmts = split_statements(script)
    upto = next(
        i for i, s in enumerate(stmts) if "silver.orders_clean" in s and "CREATE" in s
    )
    lake.run_script(";\n".join(stmts[: upto + 1]) + ";")
    oc = lake.table("dremio.retail.silver.orders_clean")
    rows = {r.order_id: r.status_std for r in oc.read().collect()}
    # retail.sql:46-53 inserts 5 orders; free-text status upper/trimmed
    assert rows == {
        5001: "PAID", 5002: "CREATED", 5003: "PAID",
        5004: "SHIPPED", 5005: "CANCELED",
    }


# ---------------------------------------------------------- full sweep

ALL_SCRIPTS = (
    sorted(f for f in os.listdir(REF_DIR) if f.endswith(".sql"))
    if os.path.isdir(REF_DIR)
    else []
)


@pytest.fixture(scope="module")
def source_tree(tmp_path_factory):
    """Local stand-in for the Dremio external sources the AI scripts list
    files from ('@s3/alex-merced-demo-2026/pdf-example', ai_generate.sql:20;
    '@media_files/press_releases/2025', media_ai.sql:247)."""
    root = tmp_path_factory.mktemp("srcroot")
    for sub in ("alex-merced-demo-2026/pdf-example", "press_releases/2025"):
        d = root / sub
        d.mkdir(parents=True, exist_ok=True)
        for i in range(2):
            (d / f"doc{i}.pdf").write_bytes(b"%PDF-1.4 fake doc " + str(i).encode())
    return str(root)


@requires_reference
@pytest.mark.parametrize("script", ALL_SCRIPTS)
def test_industry_script_verbatim(lake, source_tree, script):
    """EVERY industry-example script executes end-to-end unmodified, and
    every view it registers materializes (a view body that only parses but
    cannot analyze — bad dialect translation, unresolved LIST_FILES — fails
    here). This is the 'a reference user can paste their workshop scripts
    at the engine' parity claim, script by script."""
    with open(os.path.join(REF_DIR, script)) as f:
        sql = f.read()
    roots = {h: source_tree for h in ("s3", "media_files", "media", "logistics_docs")}
    lake.run_script(sql, source_roots=roots)
    runner = lake._script_runner
    for vname in list(runner.views):
        n = lake.run_script(f"SELECT COUNT(*) AS n FROM {vname}").first().n
        assert n >= 0, vname


@requires_reference
def test_permissions_grants_verbatim(lake):
    """permissions.sql:1-11 verbatim -> the grants registry records all
    three statements; has_privilege answers hierarchy-aware checks
    (PROJECT covers everything, FOLDER covers descendants)."""
    with open(f"{REF_DIR}/permissions.sql") as f:
        lake.run_script(f.read())
    user = "alphatest2user@alexmerced.com"
    gs = lake.grants(grantee=user)
    assert len(gs) == 3
    assert {g["object_type"] for g in gs} == {"PROJECT", "FOLDER"}
    # PROJECT grant covers any object
    assert lake.has_privilege(user, "EXTERNAL QUERY", "anything.at.all")
    # FOLDER dremio.recipes covers descendants, not siblings
    assert lake.has_privilege(user, "WRITE", "dremio.recipes.some_table")
    assert lake.has_privilege(user, "WRITE", "dremio.other")  # FOLDER "dremio"
    assert not lake.has_privilege("someone_else", "SELECT", "dremio.recipes")


@requires_reference
def test_ai_generate_file_tuple(lake, source_tree):
    """ai_generate.sql verbatim: TABLE(LIST_FILES(...)) rows expose the
    `file` handle struct (file['path'] projection + WHERE), and
    AI_GENERATE((prompt, file) WITH SCHEMA ROW(...)) routes prompt + file
    bytes to the 2-arg multimodal UDF (CTAS target lands one typed struct
    row per pdf)."""
    with open(f"{REF_DIR}/ai_generate.sql") as f:
        lake.run_script(f.read(), source_roots={"s3": source_tree})
    t = lake.table("dremio.ai_generate_example.people")
    rows = t.read().collect()
    assert len(rows) == 2  # two fixture pdfs
    assert all(r.file_path.endswith(".pdf") for r in rows)
    schema = {f.name: f.dataType.simpleString() for f in t.read().schema["extracted"].dataType}
    assert schema == {"first_last_name": "string", "age": "int", "birth_date": "string"}


def test_datetime_literal_quoting():
    """Dremio quotes pattern literals with double quotes
    (semantic_example.sql:117 'YYYY-MM-DD"T"HH24:MI:SS"Z"'); Spark wants
    single quotes, doubled when embedded in a SQL string literal."""
    from apache_iceberg_lakehouse_workshop_spark.dialect import (
        translate,
        translate_datetime_format,
    )

    assert (
        translate_datetime_format('YYYY-MM-DD"T"HH24:MI:SS"Z"')
        == "yyyy-MM-dd'T'HH:mm:ss'Z'"
    )
    out = translate("SELECT TO_TIMESTAMP(x, 'YYYY-MM-DD\"T\"HH24:MI:SS\"Z\"', 1) FROM t")
    assert "try_to_timestamp(x, 'yyyy-MM-dd''T''HH:mm:ss''Z''')" in out


def test_workload_advisor_lifecycle(lake):
    """SURVEY §4 R8 (readme.md:381-389 'intelligently creates and maintains
    reflections based on query patterns'): repeated aggregate shapes are
    fingerprinted from the workload, recommended, materialized as AGGREGATE
    reflections (AVG expands to SUM+COUNT partials), and retired when the
    shape goes cold."""
    lake.run_script(
        """
        CREATE FOLDER IF NOT EXISTS dremio.shop;
        CREATE TABLE dremio.shop.sales (region VARCHAR, amount DOUBLE, qty INT);
        INSERT INTO dremio.shop.sales VALUES
          ('EU', 10.0, 1), ('EU', 20.0, 2), ('US', 40.0, 4);
        """
    )
    runner = lake._script_runner
    advisor = runner.advisor  # turns on observation
    hot = ("SELECT region, SUM(amount), AVG(qty) FROM dremio.shop.sales "
           "GROUP BY region")
    for _ in range(3):
        lake.run_script(hot)
    # one-off shape stays below min_count -> never recommended
    lake.run_script("SELECT qty, COUNT(*) FROM dremio.shop.sales GROUP BY qty")

    recs = advisor.recommendations()
    assert len(recs) == 1
    rec = recs[0]
    assert rec["dataset"] == "dremio.shop.sales"
    assert rec["dimensions"] == ["region"]
    # AVG(qty) stored as servable partials
    assert ("qty", "SUM") in rec["measures"] and ("qty", "COUNT") in rec["measures"]
    assert rec["hits"] == 3

    created = runner.accelerate()
    assert created == [rec["name"]]
    # materialized and query-serving: 2 rows of partials, fresh
    acc = runner.accelerator
    assert acc.is_fresh(rec["name"])
    got = {
        (r.region, r.amount_sum, r.qty_sum, r.qty_count)
        for r in lake.run_script(f"SELECT * FROM {rec['name']}").collect()
    }
    assert got == {("EU", 30.0, 3, 2), ("US", 40.0, 4, 1)}
    # already-covered shape is not re-recommended
    assert advisor.recommendations() == []

    # retire: a fresh advisor that never saw the shape drops the auto-
    # one — but only after retire_patience consecutive cold windows
    # (hysteresis: one quiet window must not thrash the materialization)
    from apache_iceberg_lakehouse_workshop_spark.plans.advisor import WorkloadAdvisor

    cold_watch = WorkloadAdvisor(acc)
    assert cold_watch.retire_cold() == []  # first cold window: kept
    assert cold_watch.retire_cold() == [rec["name"]]
    assert [e["name"] for e in acc.status()] == []


def test_result_cache_through_scripts(lake):
    """SURVEY §4 R10 (readme.md:405-411): with the result cache enabled,
    a repeated SELECT serves from the materialized result (scan-only plan,
    no recompute), different SQL misses (the dremio.sql:10-13 trick of
    changing columns to bypass the cache), and an anchor-table append
    invalidates — correctness always wins."""
    lake.run_script(
        """
        CREATE FOLDER IF NOT EXISTS dremio.rc;
        CREATE TABLE dremio.rc.pay (region VARCHAR, amount DOUBLE);
        INSERT INTO dremio.rc.pay VALUES ('EU', 10.0), ('EU', 5.0), ('US', 40.0);
        CREATE OR REPLACE VIEW dremio.rc.by_region AS
        SELECT region, SUM(amount) AS total FROM dremio.rc.pay GROUP BY region;
        """
    )
    lake.enable_result_cache()
    q = "SELECT region, total FROM dremio.rc.by_region"
    first = {(r.region, r.total) for r in lake.run_script(q).collect()}
    assert first == {("EU", 15.0), ("US", 40.0)}

    # warm: served from the cache table — optimized plan has no Aggregate
    warm = lake.run_script(q)
    plan = warm._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" not in plan
    assert {(r.region, r.total) for r in warm.collect()} == first

    # different SQL -> different cache entry (recomputes, still right)
    other = lake.run_script(q + " WHERE region = 'EU'")
    assert {(r.region, r.total) for r in other.collect()} == {("EU", 15.0)}

    # anchor advances -> stale entry recomputes with the new data
    lake.run_script("INSERT INTO dremio.rc.pay VALUES ('US', 1.0)")
    fresh = {(r.region, r.total) for r in lake.run_script(q).collect()}
    assert fresh == {("EU", 15.0), ("US", 41.0)}


def test_update_and_merge_sql(lake):
    """UPDATE ... SET ... WHERE and the standard Iceberg upsert MERGE
    (UPDATE SET * / INSERT *) execute as copy-on-write DML through the
    script surface — the DML completion of the reference's INSERT/DELETE
    surface. UPDATE keeps NULL-predicate rows untouched (same IS TRUE
    discipline as DELETE)."""
    lake.run_script(
        """
        CREATE FOLDER IF NOT EXISTS dremio.dml;
        CREATE TABLE dremio.dml.inv (sku VARCHAR, qty INT, price DOUBLE);
        INSERT INTO dremio.dml.inv VALUES
          ('A', 5, 10.0), ('B', 0, 20.0), ('C', NULL, 30.0);
        UPDATE dremio.dml.inv SET price = price * 2, qty = qty + 1
        WHERE qty > 0;
        """
    )
    t = lake.table("dremio.dml.inv")
    got = {r.sku: (r.qty, r.price) for r in t.read().collect()}
    # A matched (updated), B qty=0 not TRUE, C NULL-predicate -> untouched
    assert got == {"A": (6, 20.0), "B": (0, 20.0), "C": (None, 30.0)}

    lake.run_script(
        """
        CREATE TABLE dremio.dml.delta (sku VARCHAR, qty INT, price DOUBLE);
        INSERT INTO dremio.dml.delta VALUES ('B', 9, 21.0), ('D', 7, 40.0);
        MERGE INTO dremio.dml.inv AS tgt
        USING dremio.dml.delta AS src
        ON tgt.sku = src.sku
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *;
        """
    )
    got = {r.sku: (r.qty, r.price) for r in t.read().collect()}
    assert got == {
        "A": (6, 20.0), "B": (9, 21.0), "C": (None, 30.0), "D": (7, 40.0),
    }
    # snapshot history records the DML operations (time travel intact)
    ops = [r.operation for r in t.snapshots().collect()]
    assert "update" in ops and "merge" in ops
    # unsupported MERGE shapes are a loud dialect error naming the
    # supported forms, not silent misexecution or a Spark parse error
    with pytest.raises(ValueError, match="supported forms"):
        lake.run_script(
            "MERGE INTO dremio.dml.inv USING dremio.dml.delta ON 1=1"
        )


def test_optimize_table_statement(lake):
    """OPTIMIZE TABLE t — the traditional Iceberg maintenance command the
    reference's platform automates (readme.md:393) — bin-packs small commit
    files and expires old snapshots through the script surface, preserving
    data and the time-travel contract for retained history."""
    lake.run_script(
        """
        CREATE FOLDER IF NOT EXISTS dremio.maint;
        CREATE TABLE dremio.maint.t (k INT, v DOUBLE);
        INSERT INTO dremio.maint.t VALUES (1, 1.0);
        INSERT INTO dremio.maint.t VALUES (2, 2.0);
        INSERT INTO dremio.maint.t VALUES (3, 3.0);
        INSERT INTO dremio.maint.t VALUES (4, 4.0);
        """
    )
    t = lake.table("dremio.maint.t")
    files_before = t.files().count()
    lake.run_script("OPTIMIZE TABLE dremio.maint.t")
    assert t.files().count() < files_before  # bin-packed
    got = {(r.k, r.v) for r in t.read().collect()}
    assert got == {(1, 1.0), (2, 2.0), (3, 3.0), (4, 4.0)}


def test_alter_table_schema_evolution_sql(lake):
    """ALTER TABLE ADD/RENAME COLUMN — Iceberg metadata-only schema
    evolution through the script surface: pre-evolution rows read the new
    column as NULL; renames apply without a data rewrite."""
    lake.run_script(
        """
        CREATE FOLDER IF NOT EXISTS dremio.evo;
        CREATE TABLE dremio.evo.t (k INT, v DOUBLE);
        INSERT INTO dremio.evo.t VALUES (1, 1.5);
        ALTER TABLE dremio.evo.t ADD COLUMN note VARCHAR;
        INSERT INTO dremio.evo.t VALUES (2, 2.5, 'new');
        ALTER TABLE dremio.evo.t RENAME COLUMN v TO amount;
        """
    )
    out = lake.run_script("SELECT k, amount, note FROM dremio.evo.t")
    got = {(r.k, r.amount, r.note) for r in out.collect()}
    assert got == {(1, 1.5, None), (2, 2.5, "new")}
