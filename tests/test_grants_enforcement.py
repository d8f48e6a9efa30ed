"""Opt-in RBAC enforcement (SURVEY §2.1 S16, round-7): the grants registry
(``/root/reference/industry-examples/permissions.sql:1-11``) upgrades from
advisory to enforced with ``Lakehouse(enforce_grants=True, current_user=…)``
— denied reads/writes/DDL raise PermissionError through both the API and
the script path; the default stays advisory."""

import os

import pytest
from pyspark.sql import Row

from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

REF_DIR = "/root/reference/industry-examples"


def _seed(lake, spark, name="db.sales"):
    t = lake.create_table(name, "id INT, amount DOUBLE")
    t.append(spark.createDataFrame([Row(id=1, amount=10.0)]))
    return t


def test_default_stays_advisory(spark, tmp_path):
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    t = _seed(lake, spark)
    # no grants exist, but nothing is enforced
    assert t.read().count() == 1
    t.delete_where("id = 1")


def test_denied_then_granted_read(spark, tmp_path):
    root = str(tmp_path / "wh")
    admin = Lakehouse(spark, root)
    _seed(admin, spark)

    lake = Lakehouse(spark, root, enforce_grants=True, current_user="ana")
    with pytest.raises(PermissionError, match="SELECT"):
        lake.table("db.sales").read()
    admin.grant(["SELECT"], "TABLE", "db.sales", "USER", "ana")
    assert lake.table("db.sales").read().count() == 1
    # SELECT does not imply write
    with pytest.raises(PermissionError, match="INSERT"):
        lake.table("db.sales").append(spark.createDataFrame([Row(id=2, amount=5.0)]))
    with pytest.raises(PermissionError, match="DELETE"):
        lake.table("db.sales").delete_where("id = 1")
    with pytest.raises(PermissionError, match="ALTER"):
        lake.table("db.sales").add_column("tag", "STRING")


def test_folder_and_project_grants_cover_descendants(spark, tmp_path):
    root = str(tmp_path / "wh")
    admin = Lakehouse(spark, root)
    _seed(admin, spark, "db.raw.orders")
    admin.grant(["SELECT", "WRITE"], "FOLDER", "db.raw", "USER", "bo")
    lake = Lakehouse(spark, root, enforce_grants=True, current_user="bo")
    t = lake.table("db.raw.orders")
    assert t.read().count() == 1
    t.append(spark.createDataFrame([Row(id=2, amount=5.0)]))  # WRITE umbrella
    t.delete_where("id = 2")
    # outside the folder: denied
    _seed(admin, spark, "other.t")
    with pytest.raises(PermissionError):
        lake.table("other.t").read()
    # PROJECT grant covers everything
    admin.grant(["SELECT"], "PROJECT", "", "USER", "cy")
    lake2 = Lakehouse(spark, root, enforce_grants=True, current_user="cy")
    assert lake2.table("other.t").read().count() == 1


def test_create_and_drop_table_gated(spark, tmp_path):
    root = str(tmp_path / "wh")
    admin = Lakehouse(spark, root)
    admin.create_namespace("db")
    lake = Lakehouse(spark, root, enforce_grants=True, current_user="dee")
    with pytest.raises(PermissionError, match="CREATE TABLE"):
        lake.create_table("db.new", "id INT")
    admin.grant(["CREATE TABLE"], "FOLDER", "db", "USER", "dee")
    lake.create_table("db.new", "id INT")
    with pytest.raises(PermissionError, match="DROP"):
        lake.drop_table("db.new", if_exists=False)
    admin.grant(["DROP"], "TABLE", "db.new", "USER", "dee")
    lake.drop_table("db.new")


def test_script_path_enforced(spark, tmp_path):
    root = str(tmp_path / "wh")
    admin = Lakehouse(spark, root)
    _seed(admin, spark)
    lake = Lakehouse(spark, root, enforce_grants=True, current_user="eve")
    with pytest.raises(PermissionError, match="SELECT"):
        lake.run_script("SELECT * FROM db.sales")
    admin.grant(["SELECT"], "TABLE", "db.sales", "USER", "eve")
    assert lake.run_script("SELECT * FROM db.sales").count() == 1
    with pytest.raises(PermissionError, match="DELETE"):
        lake.run_script("DELETE FROM db.sales WHERE id = 1")


def test_dml_internal_reads_not_double_checked(spark, tmp_path):
    """A DELETE grant alone suffices for DELETE — its internal target read
    is part of the authorized operation, not a separate SELECT."""
    root = str(tmp_path / "wh")
    admin = Lakehouse(spark, root)
    _seed(admin, spark)
    admin.grant(["DELETE"], "TABLE", "db.sales", "USER", "fox")
    lake = Lakehouse(spark, root, enforce_grants=True, current_user="fox")
    lake.table("db.sales").delete_where("id = 1")
    with pytest.raises(PermissionError):
        lake.table("db.sales").read()  # still no SELECT


@pytest.mark.skipif(
    not os.path.isdir(REF_DIR),
    reason=f"workshop reference scripts absent ({REF_DIR})",
)
def test_permissions_sql_verbatim_then_enforced(spark, tmp_path):
    """The workshop's permissions.sql grants, run verbatim, authorize the
    granted user end-to-end under enforcement."""
    root = str(tmp_path / "wh")
    admin = Lakehouse(spark, root)
    _seed(admin, spark, "dremio.recipes.orders")
    with open(f"{REF_DIR}/permissions.sql") as f:
        admin.run_script(f.read())
    user = "alphatest2user@alexmerced.com"
    lake = Lakehouse(spark, root, enforce_grants=True, current_user=user)
    t = lake.table("dremio.recipes.orders")
    assert t.read().count() == 1  # PROJECT SELECT
    t.append(spark.createDataFrame([Row(id=2, amount=1.0)]))  # PROJECT INSERT
    t.delete_where("id = 2")  # PROJECT DELETE


def test_revoke_removes_privileges_api_and_sql(spark, tmp_path):
    from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse

    lake = Lakehouse(
        spark, str(tmp_path / "wh"), enforce_grants=True, current_user="ana"
    )
    lake.grant(["SELECT", "INSERT"], "TABLE", "ns.t", "USER", "ana")
    # need DDL rights for setup: a project-wide grant, revoked after
    lake.grant(["CREATE TABLE", "WRITE"], "PROJECT", "", "USER", "ana")
    lake.create_namespace("ns")
    t = lake.create_table("ns.t", "id BIGINT")
    lake.revoke(["CREATE TABLE", "WRITE"], "PROJECT", "", "USER", "ana")
    t.append(spark.createDataFrame([(1,)], "id BIGINT"))
    assert t.read().count() == 1
    # revoke INSERT only: reads keep working, writes stop
    lake.run_script('REVOKE INSERT ON TABLE ns.t FROM USER ana;')
    import pytest as _pt

    with _pt.raises(PermissionError):
        t.append(spark.createDataFrame([(2,)], "id BIGINT"))
    assert t.read().count() == 1
    # revoke the rest: the entry disappears entirely
    lake.revoke(["SELECT"], "TABLE", "ns.t", "USER", "ana")
    assert lake.grants("ana") == []
    with _pt.raises(PermissionError):
        t.read()
    # exact scope: revoking at TABLE level never touches a FOLDER grant
    lake.grant(["SELECT"], "FOLDER", "ns", "USER", "ana")
    lake.revoke(["SELECT"], "TABLE", "ns.t", "USER", "ana")
    assert t.read().count() == 1


def test_reflection_routing_never_denies_a_permitted_query(spark, tmp_path):
    """ADVICE r7: reflection storage lives in the internal _reflections
    namespace no user holds grants on — routing a permitted query through
    it must NOT raise PermissionError (the materialization holds data the
    user was already authorized to read)."""
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

    root = str(tmp_path / "wh")
    admin = Lakehouse(spark, root)
    r_admin = ScriptRunner(admin)
    r_admin.run(
        """
        CREATE FOLDER IF NOT EXISTS db;
        CREATE TABLE db.sales2 (region VARCHAR, amount DOUBLE);
        INSERT INTO db.sales2 VALUES ('east', 10.0), ('west', 7.0), ('east', 20.0);
        ALTER DATASET db.sales2 CREATE AGGREGATE REFLECTION s2_agg
        USING DIMENSIONS (region) MEASURES (amount (SUM, COUNT));
        """
    )
    admin.grant(["SELECT"], "TABLE", "db.sales2", "USER", "gia")
    user = Lakehouse(spark, root, enforce_grants=True, current_user="gia")
    r = ScriptRunner(user)
    r.use_reflection_routing = True
    sql = "SELECT region, SUM(amount) AS total FROM db.sales2 GROUP BY region"
    out = r.run(sql)  # must not raise
    assert {r_.region: r_.total for r_ in out.collect()} == {
        "east": 30.0, "west": 7.0,
    }
    # and it genuinely routed (else the test proves nothing)
    assert any("_reflections" in f for f in out.inputFiles())
