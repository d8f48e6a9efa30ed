"""Driver-local frames (``session.local_frame``): row and schema identity
with ``createDataFrame(list, ddl)``, a LocalTableScan plan, no list-based
``createDataFrame`` left in the package, and one Python worker pool per
session."""

import ast
import os
import subprocess
import sys
import textwrap
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "apache_iceberg_lakehouse_workshop_spark"


def _run(script: str, **env) -> str:
    """Run ``script`` in a fresh interpreter with its own small session."""
    full = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g", **env)
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(script)],
        cwd=ROOT, env=full, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    return out.stdout


def test_local_frame_matches_create_dataframe():
    """Every type the call sites pass, plus the temporal and decimal
    types, NULLs and an empty list — in a process whose local time zone
    is not the session's, so a naive TIMESTAMP is converted as local
    wall-clock time on both paths."""
    out = _run(
        """
        import datetime as dt
        from decimal import Decimal
        from apache_iceberg_lakehouse_workshop_spark.session import get_spark, local_frame

        spark = get_spark("local-frame")
        ts = [
            dt.datetime(2021, 3, 14, 2, 30),  # skipped by the DST jump
            dt.datetime(2021, 11, 7, 1, 30),  # repeated by the DST fall-back
            dt.datetime(1969, 12, 31, 23, 59, 59, 999999),
            dt.datetime(2024, 2, 29, 12, 0, tzinfo=dt.timezone(dt.timedelta(hours=5))),
        ]
        ddl = (
            "a BIGINT, b INT, c STRING, d DOUBLE, e BOOLEAN, f ARRAY<BIGINT>, "
            "g TIMESTAMP, h TIMESTAMP_NTZ, i DATE, j DECIMAL(12,3)"
        )
        rows = [
            (1 << 62, -(1 << 31), "héllo", 1.5, True, [1, None, -(1 << 63)],
             ts[0], ts[0], dt.date(1970, 1, 1), Decimal("123456789.125")),
            (None, None, None, None, None, None, None, None, None, None),
            (-1, 7, "", float("inf"), False, [], ts[1], ts[1], dt.date(1, 1, 1), Decimal("-0.001")),
            (0, 0, "x", -0.0, None, [0], ts[2], ts[2], dt.date(9999, 12, 31), Decimal("0")),
            (2, 2, "y", 2.0, True, [2], ts[3], ts[1], dt.date(2024, 2, 29), Decimal("1.5")),
        ]
        cases = [(rows, ddl), ([], ddl), ([(5,)], "n BIGINT"),
                 ([("a", 1.0)], "k STRING, w DOUBLE")]
        for data, schema in cases:
            got = local_frame(spark, data, schema)
            want = spark.createDataFrame(data, schema)
            assert got.schema == want.schema, (got.schema, want.schema)
            assert got.collect() == want.collect(), (got.collect(), want.collect())
            plan = got._jdf.queryExecution().executedPlan().toString()
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
        print("ok", len(cases))
        """,
        TZ="America/New_York",
    )
    assert "ok 4" in out


def test_no_list_create_dataframe_in_package():
    """Driver-local frames are built by ``local_frame`` only: the one
    ``createDataFrame`` call left in the package is the helper's own,
    over an Arrow table."""
    calls = [
        (p.relative_to(PKG).as_posix(), ast.unparse(node))
        for p in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Call) and getattr(node.func, "attr", None) == "createDataFrame"
    ]
    assert calls == [("session.py", "spark.createDataFrame(table, struct)")], calls


def test_one_python_worker_pool():
    """A driver-local frame reaches no Python worker, so a session that
    also runs an Arrow kernel forks exactly one ``pyspark.daemon``."""
    out = _run(
        """
        import subprocess
        from apache_iceberg_lakehouse_workshop_spark.operators.dedup import duplicate_clusters
        from apache_iceberg_lakehouse_workshop_spark.session import get_spark, local_frame

        spark = get_spark("one-pool")
        pairs = local_frame(spark, [(1, 2), (2, 3), (5, 6)], "doc_a BIGINT, doc_b BIGINT")
        reps = {r["doc_id"]: r["cluster_rep"] for r in duplicate_clusters(pairs).collect()}
        assert reps == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}, reps

        def kernel(batches):
            yield from batches

        assert spark.range(8).mapInArrow(kernel, "id BIGINT").count() == 8
        jvm = spark.sparkContext._gateway.proc.pid
        ps = subprocess.run(["ps", "--ppid", str(jvm), "-o", "args="],
                            capture_output=True, text=True).stdout
        print("daemons", sum("pyspark.daemon" in line for line in ps.splitlines()))
        """
    )
    assert "daemons 1" in out, out
