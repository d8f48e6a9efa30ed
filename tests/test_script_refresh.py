"""ScriptRunner's per-statement view refresh reuses each table's built
frames until the table's ``metadata.json`` changes: unchanged tables are
never re-read, a commit re-reads exactly its table, and grants, schema
evolution and drops still take effect on the very next statement."""

import pytest

from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable
from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

SETUP = """
CREATE FOLDER IF NOT EXISTS db;
CREATE TABLE db.a (k INT, v INT);
CREATE TABLE db.b (k INT, w VARCHAR);
INSERT INTO db.a VALUES (1, 10), (2, 20), (3, 30);
INSERT INTO db.b VALUES (1, 'x'), (2, 'y');
"""


@pytest.fixture()
def reads(monkeypatch):
    """Names of the tables each ``LakeTable.read`` call read, in order."""
    seen: list[str] = []
    real = LakeTable.read

    def spy(self, *a, **kw):
        seen.append(self.name)
        return real(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "read", spy)
    return seen


def _runner(spark, root, **kw):
    return ScriptRunner(Lakehouse(spark, root, **kw))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_unchanged_tables_are_not_reread(spark, tmp_path, reads):
    r = _runner(spark, str(tmp_path / "wh"))
    r.run(SETUP)
    r.run("SELECT * FROM db.a")  # builds whatever the setup left stale
    reads.clear()
    out = r.run("SELECT a.k, a.v, b.w FROM db.a a JOIN db.b b ON a.k = b.k")
    assert reads == []
    assert _rows(out) == [(1, 10, "x"), (2, 20, "y")]
    assert _rows(r.run("SELECT * FROM b")) == [(1, "x"), (2, "y")]  # leaf view
    assert reads == []


def test_commit_rereads_exactly_its_table(spark, tmp_path, reads):
    r = _runner(spark, str(tmp_path / "wh"))
    r.run(SETUP)
    r.run("SELECT * FROM db.a")
    r.run("INSERT INTO db.a VALUES (4, 40)")
    reads.clear()
    out = r.run("SELECT k, v FROM db.a")
    assert reads == ["db.a"]
    assert _rows(out) == [(1, 10), (2, 20), (3, 30), (4, 40)]
    # the snapshot metadata views moved with it
    assert r.run("SELECT COUNT(*) AS n FROM a__snapshots").collect()[0].n == 2
    reads.clear()
    r.run("DELETE FROM db.b WHERE k = 2")
    assert "db.a" not in reads  # the delete read its own target only
    reads.clear()
    assert _rows(r.run("SELECT * FROM db.b")) == [(1, "x")]
    assert reads == ["db.b"]


def test_schema_evolution_shows_on_next_statement(spark, tmp_path):
    r = _runner(spark, str(tmp_path / "wh"))
    r.run(SETUP)
    assert r.run("SELECT * FROM db.a").columns == ["k", "v"]
    r.run("ALTER TABLE db.a ADD COLUMN note VARCHAR")
    out = r.run("SELECT * FROM db.a")
    assert out.columns == ["k", "v", "note"]
    assert {row.note for row in out.collect()} == {None}
    r.run("ALTER TABLE db.a RENAME COLUMN v TO val")
    assert r.run("SELECT k, val FROM db.a WHERE k = 2").collect()[0].val == 20


def test_revoke_and_grant_take_effect_on_next_statement(spark, tmp_path):
    root = str(tmp_path / "wh")
    admin = _runner(spark, root)
    admin.run(SETUP)
    admin.lake.grant(["SELECT"], "TABLE", "db.a", "USER", "kim")
    user = _runner(spark, root, enforce_grants=True, current_user="kim")
    assert _rows(user.run("SELECT k FROM db.a")) == [(1,), (2,), (3,)]
    admin.run("REVOKE SELECT ON TABLE db.a FROM USER kim")
    with pytest.raises(PermissionError, match="db.a"):
        user.run("SELECT k FROM db.a")
    # the leaf view another statement registered is gone too
    with pytest.raises(PermissionError):
        user.run("SELECT k FROM a")
    admin.run("GRANT SELECT ON TABLE db.a TO USER kim")
    assert _rows(user.run("SELECT k FROM db.a")) == [(1,), (2,), (3,)]


def test_drop_table_takes_effect_on_next_statement(spark, tmp_path):
    from pyspark.errors import AnalysisException

    r = _runner(spark, str(tmp_path / "wh"))
    r.run(SETUP)
    assert r.run("SELECT COUNT(*) AS n FROM b").collect()[0].n == 2
    r.run("DROP TABLE db.b")
    for sql in ("SELECT * FROM db.b", "SELECT * FROM b", "SELECT * FROM b__history"):
        with pytest.raises(AnalysisException):
            r.run(sql)
    # re-created under the same name: the new table, not the old frames
    r.run("CREATE TABLE db.b (k INT, w VARCHAR); INSERT INTO db.b VALUES (9, 'z')")
    assert _rows(r.run("SELECT * FROM db.b")) == [(9, "z")]


def test_runners_on_two_lakes_never_read_each_other(spark, tmp_path, monkeypatch):
    r1 = _runner(spark, str(tmp_path / "wh1"))
    r2 = _runner(spark, str(tmp_path / "wh2"))
    r1.run(SETUP)
    r2.run(SETUP.replace("(1, 10), (2, 20), (3, 30)", "(7, 70)"))
    for r in (r1, r2):
        r.run("SELECT * FROM db.b")  # build what the setups left stale
    paths: list[str] = []
    real = LakeTable.read

    def spy(self, *a, **kw):
        paths.append(self.path)
        return real(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "read", spy)
    for _ in range(2):
        # same table and leaf names in one session's view namespace: each
        # statement re-points the views at its own lake
        assert _rows(r1.run("SELECT * FROM db.a")) == [(1, 10), (2, 20), (3, 30)]
        assert _rows(r2.run("SELECT * FROM a")) == [(7, 70)]
    r2.run("INSERT INTO db.a VALUES (8, 80)")
    assert _rows(r1.run("SELECT * FROM a")) == [(1, 10), (2, 20), (3, 30)]
    assert _rows(r2.run("SELECT * FROM db.a")) == [(7, 70), (8, 80)]
    assert paths, "the second lake's commit must be re-read"
    assert all(p.startswith(str(tmp_path / "wh2")) for p in paths)


def test_self_joins_over_reused_frames(spark, tmp_path):
    """Two statements (or two sides of one statement) over the same table
    now see the same kept frame; self-joins must still resolve."""
    r = _runner(spark, str(tmp_path / "wh"))
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS db;
        CREATE TABLE db.ev (sym VARCHAR, ts TIMESTAMP, px DOUBLE);
        INSERT INTO db.ev VALUES
          ('a', TIMESTAMP '2024-01-01 00:00:01', 1.0),
          ('a', TIMESTAMP '2024-01-01 00:00:05', 2.0),
          ('b', TIMESTAMP '2024-01-01 00:00:02', 3.0),
          ('b', TIMESTAMP '2024-01-01 00:00:09', 4.0);
        """
    )
    r.run("SELECT * FROM db.ev").collect()
    asof = r.run(
        "SELECT l.sym, l.px, r.px AS r_px FROM db.ev l ASOF JOIN db.ev r "
        "ON l.sym = r.sym AND l.ts >= r.ts"
    )
    assert _rows(asof) == [("a", 1.0, 1.0), ("a", 2.0, 2.0),
                           ("b", 3.0, 3.0), ("b", 4.0, 4.0)]
    pairs = r.run(
        "SELECT l.px AS early, r.px AS late FROM db.ev l JOIN ev r "
        "ON l.sym = r.sym AND l.ts < r.ts"
    )
    assert _rows(pairs) == [(1.0, 2.0), (3.0, 4.0)]


def test_create_reflection_refreshes_once(spark, tmp_path, monkeypatch):
    r = _runner(spark, str(tmp_path / "wh"))
    r.run(SETUP)
    calls = []
    real = ScriptRunner._register_tables

    def spy(self):
        calls.append(1)
        return real(self)

    monkeypatch.setattr(ScriptRunner, "_register_tables", spy)
    r.run(
        "ALTER DATASET db.a CREATE AGGREGATE REFLECTION a_agg "
        "USING DIMENSIONS (k) MEASURES (v (SUM, COUNT))"
    )
    assert len(calls) == 1
    # the reflection is queryable by name and serves its materialization
    calls.clear()
    out = r.run("SELECT k, v_sum FROM a_agg")
    assert _rows(out) == [(1, 10), (2, 20), (3, 30)]
    assert any("_reflections" in f for f in out.inputFiles())
    assert len(calls) == 1


def test_repeat_select_registers_nothing(spark, tmp_path, monkeypatch):
    """A warm repeat SELECT re-registers no temp view and builds no
    metadata frame: every view the runner registered still serves what
    the session holds, and no statement names a metadata view."""
    r = _runner(spark, str(tmp_path / "wh"))
    r.run(SETUP)
    r.run("CREATE VIEW db.ab AS SELECT a.k, a.v, b.w FROM db.a a JOIN db.b b ON a.k = b.k")
    r.run(
        "ALTER DATASET db.a CREATE AGGREGATE REFLECTION ab_agg "
        "USING DIMENSIONS (k) MEASURES (v (SUM, COUNT))"
    )
    sql = "SELECT k, v FROM db.a WHERE v > 10"
    r.run(sql).collect()
    calls: list[str] = []
    frame_cls = type(spark.range(1))
    for cls, attr in ((frame_cls, "createOrReplaceTempView"),
                      (type(spark), "createDataFrame"), (type(spark), "sql")):
        real = getattr(cls, attr)

        def spy(self, *a, _real=real, _attr=attr, **kw):
            if _attr != "sql" or "TEMP VIEW" in str(a[0]).upper():
                calls.append(_attr)
            return _real(self, *a, **kw)

        monkeypatch.setattr(cls, attr, spy)
    assert _rows(r.run(sql)) == [(2, 20), (3, 30)]
    assert _rows(r.run("SELECT * FROM ab")) == [(1, 10, "x"), (2, 20, "y")]
    assert _rows(r.run("SELECT k, v_sum FROM ab_agg")) == [(1, 10), (2, 20), (3, 30)]
    assert calls == []
    # a commit re-points exactly the moved table's two views and
    # re-creates the stacked view (its output may have changed)
    r.run("INSERT INTO db.b VALUES (3, 'z')")
    calls.clear()
    assert _rows(r.run("SELECT * FROM ab")) == [(1, 10, "x"), (2, 20, "y"), (3, 30, "z")]
    assert sorted(calls) == ["createOrReplaceTempView"] * 2 + ["sql"] * 2


def test_views_changed_outside_the_runner_are_repointed(spark, tmp_path):
    r = _runner(spark, str(tmp_path / "wh"))
    r.run(SETUP)
    r.run("CREATE VIEW db.big AS SELECT k FROM db.a WHERE v >= 20")
    assert _rows(r.run("SELECT * FROM db.a")) == [(1, 10), (2, 20), (3, 30)]
    # user code replaces the leaf view and a stacked view, and drops the
    # qualified table view, between two statements
    spark.range(5).createOrReplaceTempView("a")
    spark.sql("CREATE OR REPLACE TEMP VIEW db__big AS SELECT 0 AS k")
    spark.catalog.dropTempView("db__a")
    assert _rows(r.run("SELECT * FROM a")) == [(1, 10), (2, 20), (3, 30)]
    assert _rows(r.run("SELECT * FROM db.a")) == [(1, 10), (2, 20), (3, 30)]
    assert _rows(r.run("SELECT * FROM db.big")) == [(2,), (3,)]
    assert _rows(r.run("SELECT * FROM big")) == [(2,), (3,)]


def test_metadata_views_are_built_on_demand(spark, tmp_path, monkeypatch):
    r = _runner(spark, str(tmp_path / "wh"))
    r.run(
        """
        CREATE FOLDER IF NOT EXISTS lake;
        CREATE TABLE lake.mdv (k INT);
        INSERT INTO lake.mdv VALUES (1);
        INSERT INTO lake.mdv VALUES (2);
        ALTER TABLE lake.mdv CREATE TAG first;
        """
    )
    built: list[str] = []
    for kind in ("snapshots", "history", "refs"):
        real = getattr(LakeTable, kind)

        def spy(self, _real=real, _kind=kind):
            built.append(_kind)
            return _real(self)

        monkeypatch.setattr(LakeTable, kind, spy)
    assert _rows(r.run("SELECT * FROM lake.mdv")) == [(1,), (2,)]
    assert built == []
    assert r.run("SELECT COUNT(*) AS n FROM mdv__snapshots").collect()[0].n == 2
    hist = r.run("SELECT is_current FROM TABLE(table_history('lake.mdv'))")
    assert sorted(row.is_current for row in hist.collect()) == [False, True]
    r.run("CREATE VIEW lake.mdv_refs AS SELECT ref_name FROM TABLE(table_refs('lake.mdv'))")
    assert _rows(r.run("SELECT * FROM lake.mdv_refs")) == [("first",), ("main",)]
    assert sorted(built) == ["history", "refs", "snapshots"]
    # kept under the table's digest until it moves
    built.clear()
    assert r.run("SELECT COUNT(*) AS n FROM mdv__snapshots").collect()[0].n == 2
    assert built == []
    r.run("INSERT INTO lake.mdv VALUES (3)")
    assert r.run("SELECT COUNT(*) AS n FROM mdv__snapshots").collect()[0].n == 3
    # the stacked view's refs moved with the table too
    assert _rows(r.run("SELECT * FROM mdv_refs")) == [("first",), ("main",)]
    assert sorted(built) == ["refs", "snapshots"]


# Py4J commands a warm repeat SELECT over a three-table lake sends from the
# calling thread: 17 measured with view re-pointing by catalog lookup (two
# commands per table view, then the query's own), +10%. Re-registering the
# five views of each table on every statement sent 20.
ROUND_TRIP_CEILING = 18


def test_repeat_select_round_trip_ceiling(spark, tmp_path, monkeypatch):
    import threading

    r = _runner(spark, str(tmp_path / "wh"))
    r.run(SETUP + "CREATE TABLE db.c (k INT, x DOUBLE); INSERT INTO db.c VALUES (1, 1.5);")
    sql = "SELECT a.k, a.v, b.w FROM db.a a JOIN db.b b ON a.k = b.k WHERE a.v > 5"
    for _ in range(2):
        r.run(sql).collect()
    client = spark.sparkContext._gateway._gateway_client
    real = type(client).send_command
    me = threading.get_ident()
    sent: list[str] = []

    def spy(self, command, *a, **kw):
        # the finalizer thread's object releases are not the statement's
        if threading.get_ident() == me and not command.startswith("m\n"):
            sent.append(command.split("\n", 3)[:3])
        return real(self, command, *a, **kw)

    monkeypatch.setattr(type(client), "send_command", spy)
    df = r.run(sql)
    monkeypatch.undo()
    assert len(sent) <= ROUND_TRIP_CEILING, sent
    assert _rows(df) == [(1, 10, "x"), (2, 20, "y")]
