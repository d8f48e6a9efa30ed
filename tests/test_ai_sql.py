"""AI functions callable from SQL: AI_CLASSIFY / AI_COMPLETE named UDFs and
the AI_GENERATE(... WITH SCHEMA ROW(...)) per-schema rewrite, driven through
verbatim reference scripts against the deterministic mock backend."""

import os

import pytest

from apache_iceberg_lakehouse_workshop_spark.dialect import run as dialect_run
from apache_iceberg_lakehouse_workshop_spark.dialect import split_statements, translate
from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

REF_DIR = "/root/reference/industry-examples"
LOGISTICS_SQL = f"{REF_DIR}/logistics_AI.sql"
RECIPES_SQL = f"{REF_DIR}/recipes.sql"
requires_reference = pytest.mark.skipif(
    not os.path.isdir(REF_DIR),
    reason=f"workshop reference scripts absent ({REF_DIR})",
)


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def test_array_literal_rewrite():
    assert translate("SELECT ARRAY['a','b,c']") == "SELECT array('a','b,c')"
    assert translate("ARRAY_TO_STRING(xs, ',')") == "array_join(xs, ',')"
    # struct bracket access untouched
    assert translate("SELECT s['f'] FROM t") == "SELECT s['f'] FROM t"


def test_ai_classify_complete_sql(spark):
    out = dialect_run(
        spark,
        """
        CREATE OR REPLACE TEMP VIEW ai_sql_docs AS
        SELECT * FROM VALUES
          ('the stream flows past the window stream'),
          ('no keywords here') AS v(txt);
        SELECT AI_CLASSIFY(txt, ARRAY['table','stream','vector']) AS label,
               AI_COMPLETE(txt) AS reply
        FROM ai_sql_docs
        """,
    )
    rows = out.collect()
    assert [r.label for r in rows] == ["stream", "Unknown"]
    assert rows[0].reply == f"echo[{len('the stream flows past the window stream')}]:" + \
        "THE STREAM FLOWS P"[:16]


def test_ai_generate_with_schema_sql(spark):
    out = dialect_run(
        spark,
        """
        SELECT AI_GENERATE('quick fast system beats the rest 42'
                 WITH SCHEMA ROW(summary VARCHAR, n_words INT, sentiment VARCHAR)) AS g
        """,
    )
    row = out.first().g
    assert row.summary == "quick fast system beats the"
    assert row.n_words == 6  # '42' is stripped by normalization
    assert row.sentiment == "positive"


@requires_reference
def test_recipes_script_verbatim(lake):
    """recipes.sql runs unmodified: CTAS with quoted identifiers + ARRAY
    column, then an AI_CLASSIFY view. The mock classifies by exact label
    token hits — no spice-level word appears in any ingredient list, so the
    closed-set fallback 'Unknown' is the deterministic golden output."""
    with open(RECIPES_SQL) as f:
        lake.run_script(f.read())
    assert lake.table_exists("dremio.recipes.recipes")
    out = lake.run_script(
        "SELECT id, name, spice_level FROM dremio.recipes.recipes_enhanced"
    )
    rows = {r.id: (r.name, r.spice_level) for r in out.collect()}
    assert rows == {
        1: ("Mild Salsa", "Unknown"),
        2: ("Medium Chili", "Unknown"),
        3: ("Spicy Vindaloo", "Unknown"),
    }


@requires_reference
def test_logistics_ai_script_verbatim(lake):
    """logistics_AI.sql:28-218 verbatim — raw DDL + 8 INSERTs, the
    AI_GENERATE WITH SCHEMA ROW enrichment view, the bracket-access flatten
    view, and the AI_CLASSIFY risk view. Golden values hand-derived from the
    mock rules over each driver_notes text."""
    with open(LOGISTICS_SQL) as f:
        stmts = split_statements(f.read())
    upto = next(
        i for i, s in enumerate(stmts) if "delivery_with_risk" in s and "CREATE" in s
    )
    lake.run_script(";\n".join(stmts[: upto + 1]) + ";")

    out = lake.run_script(
        """SELECT delivery_id, primary_issue, issue_category,
                  estimated_delay_minutes, requires_apology, risk_level
           FROM dremio.logistics.silver.delivery_with_risk"""
    )
    got = {
        r.delivery_id: (
            r.primary_issue,
            r.issue_category,
            r.estimated_delay_minutes,
            r.requires_apology,
            r.risk_level,
        )
        for r in out.collect()
    }
    # mock rules: keyword scoping after 'NOTES:', first-match issue label,
    # delay/damage category, first integer as minutes, apology on
    # upset/damage/delay>30; risk prompt contains each label once -> 'Low'
    assert got == {
        20001: ("Traffic", "Delay and Damage", 45, True, "Low"),
        20002: ("Customer", "None", 0, False, "Low"),
        20003: ("None", "Damage", 0, True, "Low"),
        20004: ("Access", "None", 0, False, "Low"),
        20005: ("Traffic", "Damage", 0, True, "Low"),
        20006: ("None", "None", 0, False, "Low"),
        20007: ("Customer", "None", 0, False, "Low"),
        20008: ("Traffic", "Delay", 0, True, "Low"),
    }


def test_ai_embed_from_sql(spark):
    """AI_EMBED(text, dim) named UDF: deterministic mock feature-hash
    embeddings straight from SQL, composable with array functions."""
    from apache_iceberg_lakehouse_workshop_spark.functions import ai

    ai.register_sql_udfs(spark)
    spark.createDataFrame(
        [(1, "table scan join"), (2, None)], ["id", "txt"]
    ).createOrReplaceTempView("ai_embed_t")
    rows = {r.id: r for r in spark.sql(
        "SELECT id, AI_EMBED(txt, 16) AS e, "
        "       aggregate(AI_EMBED(txt, 16), CAST(0.0 AS DOUBLE), (a, x) -> a + abs(x)) AS l1 "
        "FROM ai_embed_t"
    ).collect()}
    assert len(rows[1].e) == 16 and rows[1].l1 == 3.0   # one signed unit per token
    assert rows[2].e is None                             # NULL text -> NULL vector
