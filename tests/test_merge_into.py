"""General MERGE INTO (plans/script + LakeTable.merge_into) — the full
standard SQL:2003 / Iceberg DML shape beyond the plain upsert: conditional
WHEN clauses (first-true wins), column-level SET, MATCHED DELETE, and
column-list INSERT. Verified against a DuckDB replay of the equivalent
DELETE/UPDATE/INSERT sequence on seeded data, plus dialect error
ergonomics for unroutable statements (UnsupportedStatementError instead
of a downstream Spark parse error).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import Row

from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
from apache_iceberg_lakehouse_workshop_spark.plans.script import (
    ScriptRunner,
    UnsupportedStatementError,
)


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


_TGT = [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0), (4, "d", 40.0)]
# k=1 matched amt<0 -> DELETE; k=2 matched amt=150 -> UPDATE; k=3 matched
# amt=5 -> no clause, unchanged; k=9 unmatched amt>=0 -> INSERT;
# k=8 unmatched amt<0 -> no clause, dropped
_SRC = [(1, "x", -5.0), (2, "y", 150.0), (3, "z", 5.0), (9, "n", 7.0), (8, "m", -1.0)]


def _setup(lake, spark):
    t = lake.create_table("db.tgt", "k INT, v STRING, amt DOUBLE")
    t.append(spark.createDataFrame(_TGT, "k INT, v STRING, amt DOUBLE"))
    s = lake.create_table("db.src", "k INT, v STRING, amt DOUBLE")
    s.append(spark.createDataFrame(_SRC, "k INT, v STRING, amt DOUBLE"))
    return t, ScriptRunner(lake)


_MERGE_SQL = """
MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k
WHEN MATCHED AND s.amt < 0 THEN DELETE
WHEN MATCHED AND s.amt > 100 THEN UPDATE SET v = s.v, amt = t.amt + s.amt
WHEN NOT MATCHED AND s.amt >= 0 THEN INSERT (k, v, amt) VALUES (s.k, UPPER(s.v), s.amt)
"""


def test_conditional_merge_matches_duckdb_replay(lake, spark):
    t, runner = _setup(lake, spark)
    runner.run(_MERGE_SQL)
    got = sorted((r.k, r.v, r.amt) for r in t.read().collect())

    # independent oracle: DuckDB replay of the clause semantics in order,
    # with matched/not-matched decided against the ORIGINAL target state
    con = duckdb.connect()
    con.execute("CREATE TABLE tgt(k INT, v VARCHAR, amt DOUBLE)")
    con.execute("CREATE TABLE src(k INT, v VARCHAR, amt DOUBLE)")
    con.executemany("INSERT INTO tgt VALUES (?,?,?)", _TGT)
    con.executemany("INSERT INTO src VALUES (?,?,?)", _SRC)
    con.execute("CREATE TABLE tgt0 AS SELECT * FROM tgt")
    con.execute("DELETE FROM tgt WHERE k IN (SELECT k FROM src WHERE amt < 0)")
    con.execute(
        """UPDATE tgt SET v = src.v, amt = tgt.amt + src.amt FROM src
           WHERE tgt.k = src.k AND NOT (src.amt < 0) AND src.amt > 100"""
    )
    con.execute(
        """INSERT INTO tgt SELECT s.k, UPPER(s.v), s.amt FROM src s
           WHERE s.k NOT IN (SELECT k FROM tgt0) AND s.amt >= 0"""
    )
    want = sorted(tuple(r) for r in con.execute("SELECT * FROM tgt").fetchall())
    assert got == want
    assert got == [(2, "y", 170.0), (3, "c", 30.0), (4, "d", 40.0), (9, "N", 7.0)]


def test_clause_order_first_true_wins(lake, spark):
    """Overlapping conditions: amt=-5 satisfies both clauses; the DELETE
    (declared first) must win."""
    t, runner = _setup(lake, spark)
    runner.run(
        """MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k
           WHEN MATCHED AND s.amt < 0 THEN DELETE
           WHEN MATCHED AND s.amt < 100 THEN UPDATE SET amt = s.amt"""
    )
    got = {r.k: r.amt for r in t.read().collect()}
    assert 1 not in got          # deleted, not updated to -5
    assert got[3] == 5.0         # second clause applied
    assert got[2] == 20.0        # amt=150 matches neither -> unchanged


def test_insert_collist_unlisted_columns_null(lake, spark):
    t, runner = _setup(lake, spark)
    runner.run(
        """MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k
           WHEN NOT MATCHED THEN INSERT (k, amt) VALUES (s.k + 100, s.amt * 2)"""
    )
    got = {r.k: (r.v, r.amt) for r in t.read().collect()}
    assert got[109] == (None, 14.0)   # expression values, v defaulted NULL
    assert got[108] == (None, -2.0)
    assert got[1] == ("a", 10.0)      # matched rows untouched (no MATCHED clause)


def test_set_star_insert_star_with_conditions(lake, spark):
    t, runner = _setup(lake, spark)
    runner.run(
        """MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k
           WHEN MATCHED AND s.amt > 0 THEN UPDATE SET *
           WHEN NOT MATCHED AND s.amt > 0 THEN INSERT *"""
    )
    got = {r.k: (r.v, r.amt) for r in t.read().collect()}
    assert got[2] == ("y", 150.0)     # SET * from source
    assert got[1] == ("a", 10.0)      # matched but amt<0 -> kept as-is
    assert got[9] == ("n", 7.0)       # INSERT *
    assert 8 not in got               # unmatched, condition false -> dropped


# Jobs of the SQL plain upsert below on the `_setup` tables (measured at 4
# cores), when the script runner still chose the upsert plan itself.
SQL_UPSERT_JOBS = 4


def test_unconditional_upsert_uses_fast_path(lake, spark, count_jobs):
    """The plain SET */INSERT * upsert is one of merge_into's plans (the
    anti-join, not the general full-outer plan): the SQL statement runs no
    more jobs than when the script runner picked that plan itself."""
    t, runner = _setup(lake, spark)
    n, _ = count_jobs(lambda: runner.run(
        """MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"""
    ))
    assert n <= SQL_UPSERT_JOBS
    got = {r.k: r.v for r in t.read().collect()}
    assert got == {1: "x", 2: "y", 3: "z", 4: "d", 8: "m", 9: "n"}


def test_cardinality_violation_raises(lake, spark):
    t, runner = _setup(lake, spark)
    lake.table("db.src").append(
        spark.createDataFrame([(2, "dup", 1.0)], "k INT, v STRING, amt DOUBLE")
    )
    with pytest.raises(ValueError, match="cardinality"):
        runner.run(
            """MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k
               WHEN MATCHED THEN UPDATE SET v = s.v"""
        )
    # nothing was committed
    assert [r.operation for r in t.snapshots().collect()] == ["append"]


def test_snapshot_and_time_travel_after_general_merge(lake, spark):
    t, runner = _setup(lake, spark)
    runner.run(_MERGE_SQL)
    snaps = [r.operation for r in t.snapshots().collect()]
    assert snaps == ["append", "merge"]
    # pre-merge snapshot still readable (CoW)
    assert sorted(r.k for r in t.read(snapshot_id=1).collect()) == [1, 2, 3, 4]


# ----------------------------------------------- dialect error ergonomics


def test_unroutable_merge_names_supported_forms(lake, spark):
    _, runner = _setup(lake, spark)
    with pytest.raises(UnsupportedStatementError, match="WHEN MATCHED"):
        runner.run(
            """MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k
               WHEN FROBNICATED THEN UPDATE SET *"""
        )
    with pytest.raises(UnsupportedStatementError, match="supported forms"):
        runner.run("MERGE INTO db.tgt USING db.src ON 1=1")  # no WHEN at all


def test_misc_unsupported_statements_raise_dialect_error(lake, spark):
    _, runner = _setup(lake, spark)
    for bad, kind in [
        ("OPTIMIZE TABLE db.tgt REWRITE MANIFESTS", "OPTIMIZE"),
        ("GRANT stuff", "GRANT"),
        ("COPY db.tgt TO 'somewhere'", "COPY"),
        # DROP COLUMN / ALTER COLUMN TYPE / SET TBLPROPERTIES became real
        # statements in r7 — use a form that stays unsupported
        ("ALTER TABLE db.tgt FROBNICATE EVERYTHING", "ALTER"),
    ]:
        with pytest.raises(UnsupportedStatementError) as ei:
            runner.run(bad)
        assert ei.value.kind == kind
        assert "supported forms" in str(ei.value)


def test_queries_still_flow_to_spark(lake, spark):
    _, runner = _setup(lake, spark)
    out = runner.run("SELECT COUNT(*) AS n FROM db.tgt")
    assert out.collect()[0]["n"] == 4


# ------------------------------------ WHEN NOT MATCHED BY SOURCE (SQL:2023)


def test_not_matched_by_source_sync_dimension(lake, spark):
    """The sync-a-dimension flow: source is the new truth — matched rows
    update, new rows insert, target rows ABSENT from the source delete.
    Verified against a DuckDB replay."""
    t, runner = _setup(lake, spark)
    runner.run(
        """MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE THEN DELETE"""
    )
    got = sorted((r.k, r.v, r.amt) for r in t.read().collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE tgt(k INT, v VARCHAR, amt DOUBLE)")
    con.execute("CREATE TABLE src(k INT, v VARCHAR, amt DOUBLE)")
    con.executemany("INSERT INTO tgt VALUES (?,?,?)", _TGT)
    con.executemany("INSERT INTO src VALUES (?,?,?)", _SRC)
    con.execute("CREATE TABLE tgt0 AS SELECT * FROM tgt")
    con.execute(
        "UPDATE tgt SET v = src.v, amt = src.amt FROM src WHERE tgt.k = src.k"
    )
    con.execute(
        "INSERT INTO tgt SELECT * FROM src s WHERE s.k NOT IN (SELECT k FROM tgt0)"
    )
    con.execute("DELETE FROM tgt WHERE k NOT IN (SELECT k FROM src)")
    want = sorted(tuple(r) for r in con.execute("SELECT * FROM tgt").fetchall())
    assert got == want
    assert {r[0] for r in got} == {1, 2, 3, 8, 9}   # 4 gone (not in source)


def test_not_matched_by_source_conditional_update_and_delete(lake, spark):
    """Ordered conditional NBS clauses: flag cheap orphans, delete the
    rest; matched/unmatched families remain independent. First-true wins
    within the NBS family."""
    t, runner = _setup(lake, spark)
    # target-only rows: k=4 (amt=40). Add k=5 amt=3 so both branches fire.
    t.append(spark.createDataFrame([(5, "e", 3.0)], "k INT, v STRING, amt DOUBLE"))
    runner.run(
        """MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k
           WHEN NOT MATCHED BY SOURCE AND t.amt < 10 THEN UPDATE SET v = 'orphan'
           WHEN NOT MATCHED BY SOURCE THEN DELETE"""
    )
    got = {r.k: (r.v, r.amt) for r in t.read().collect()}
    assert 4 not in got                      # amt=40: second clause deletes
    assert got[5] == ("orphan", 3.0)         # amt=3: first clause flags
    # matched rows untouched (no MATCHED clauses)
    assert got[1] == ("a", 10.0) and got[2] == ("b", 20.0)


def test_not_matched_by_source_update_set_star_rejected(lake, spark):
    t, _runner = _setup(lake, spark)
    src = spark.createDataFrame(_SRC, "k INT, v STRING, amt DOUBLE")
    with pytest.raises(ValueError, match="BY SOURCE"):
        t.merge_into(
            src,
            "t.k = s.k",
            not_matched_by_source=[("update", None, "*")],
        )


# ----------------------------------------------- ON-clause conjunct scanner


def test_on_clause_parenthesized_equi_conjuncts_parse(lake, spark):
    """Parenthesized / backticked / whitespace ON variants must reach the
    cardinality check (the old regex silently skipped them, weakening the
    guard). A duplicate source key must raise for every spelling."""
    t, runner = _setup(lake, spark)
    lake.table("db.src").append(
        spark.createDataFrame([(2, "dup", 1.0)], "k INT, v STRING, amt DOUBLE")
    )
    for on in [
        "(t.k = s.k)",
        "( ( t.k = s.k ) )",
        "(t.k = s.k) AND (s.amt > -100)",
        "`t`.`k` = `s`.`k`",
        "s.k\n  =\tt.k",
    ]:
        with pytest.raises(ValueError, match="cardinality"):
            runner.run(
                f"""MERGE INTO db.tgt AS t USING db.src AS s ON {on}
                    WHEN MATCHED THEN UPDATE SET v = s.v"""
            )


def test_on_clause_top_level_or_raises(lake, spark):
    """A depth-0 OR invalidates the AND-decomposition: the check must
    refuse loudly, never silently weaken."""
    t, _runner = _setup(lake, spark)
    src = spark.createDataFrame(_SRC, "k INT, v STRING, amt DOUBLE")
    with pytest.raises(ValueError, match="OR"):
        t.merge_into(
            src, "t.k = s.k OR t.v = s.v", matched=[("update", None, "*")]
        )
    # parenthesized disjunction ANDed with the key is fine
    t.merge_into(
        src,
        "t.k = s.k AND (s.amt > 0 OR s.v = 'x')",
        matched=[("update", None, "*")],
    )
    got = {r.k: r.v for r in t.read().collect()}
    assert got[1] == "x" and got[2] == "y"   # both pass the disjunction
