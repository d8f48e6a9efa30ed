"""``sql_analytics``: the analyst's path.

Setup writes the seeded tables and copies three of them into a lakehouse.
Each pass runs seven registry query builders (timed as build, then
``collect()``), creates three reflections through the script runner, then
runs the ``dremio.sql`` trio as Dremio SQL against the lake copies
(``COUNT(*)``, a cold 3xAVG and a 2xAVG routed to the aggregate
reflection), a seeded narrow projection routed to the DISPLAY reflection,
and an orders-customer join aggregate routed to the join-view reflection.
The reflections are built in the pass, not in set-up, so their build is
timed once per run instead of once per set-up repetition. The result
cache stays off.
"""

from __future__ import annotations

import os
import random
import sys

import duckdb

import gen
import spans as S
from common import Op, Workload, compare_rows, rows_digest

QUERIES = [
    "a1_pricing_summary", "j1_inner_equi", "w1_latest_per_key", "o1_topk",
    "m1_medallion_gold", "j13_asof_join", "e3_session_rollup",
]
SCALE = {"full": 0.01, "tiny": 0.001}
LAKE_TABLES = ("lineitem", "orders", "customer")
ROUTES = ("route_aggregate", "route_raw", "route_raw_join", "route_raw_agg_join",
          "route_join_aggregate")
REFLECTIONS = """
ALTER DATASET lake.lineitem CREATE AGGREGATE REFLECTION li_agg
  USING DIMENSIONS (l_returnflag, l_linestatus)
  MEASURES (l_tax (SUM, COUNT), l_extendedprice (SUM, COUNT));
ALTER DATASET lake.lineitem CREATE RAW REFLECTION li_narrow
  USING DISPLAY (l_orderkey, l_quantity, l_extendedprice);
CREATE OR REPLACE VIEW lake.cust_orders AS
  SELECT c.c_mktsegment, c.c_nationkey, o.o_totalprice
  FROM lake.orders o JOIN lake.customer c ON o.o_custkey = c.c_custkey;
ALTER DATASET lake.cust_orders CREATE AGGREGATE REFLECTION co_agg
  USING DIMENSIONS (c_mktsegment, c_nationkey) MEASURES (o_totalprice (SUM, COUNT));
"""


def reads_reflection(df) -> bool:
    return any("_reflections" in f for f in df.inputFiles())


class SqlAnalytics(Workload):
    name = "sql_analytics"

    def __init__(self, *args):
        super().__init__(*args)
        from apache_iceberg_lakehouse_workshop_spark.registry import full_registry

        self.registry = full_registry()
        rng = random.Random(self.seed)
        q_min = rng.randint(45, 49)
        segment = rng.choice(gen.SEGMENTS)
        # name -> (SQL on the lake, served from a reflection?)
        self.script = {
            "script.count_star": ("SELECT COUNT(*) AS n FROM lake.lineitem", False),
            "script.multi_avg_cold": (
                "SELECT AVG(l_quantity) AS avg_qty, AVG(l_extendedprice) AS avg_price, "
                "AVG(l_discount) AS avg_disc FROM lake.lineitem", False),
            "script.multi_avg_routed": (
                "SELECT l_returnflag, AVG(l_tax) AS avg_tax, "
                "AVG(l_extendedprice) AS avg_price FROM lake.lineitem "
                "GROUP BY l_returnflag", True),
            "script.narrow_routed": (
                "SELECT l_orderkey, l_extendedprice FROM lake.lineitem "
                f"WHERE l_quantity >= {q_min}", True),
            "script.join_agg_routed": (
                "SELECT c.c_nationkey, SUM(o.o_totalprice) AS total, "
                "AVG(o.o_totalprice) AS avg_price FROM lake.orders o "
                "JOIN lake.customer c ON o.o_custkey = c.c_custkey "
                f"WHERE c.c_mktsegment = '{segment}' GROUP BY c.c_nationkey", True),
        }

    # ------------------------------------------------------------ setup

    def setup(self, rep_dir: str) -> None:
        from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
        from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner
        from apache_iceberg_lakehouse_workshop_spark.tables import load_table

        self.data = os.path.join(rep_dir, "data")
        self.rows = gen.write_tables(self.data, self.seed, SCALE[self.tier])
        self.input_rows = sum(self.rows.values())
        lake = Lakehouse(self.spark, os.path.join(rep_dir, "warehouse"))
        for t in LAKE_TABLES:
            with self.tracer.span("lakeshim", "create_table_as"):
                lake.create_table_as(f"lake.{t}", load_table(self.spark, self.data, t))
        self.runner = ScriptRunner(lake)
        self.runner.use_reflection_routing = True

    def instrument(self) -> None:
        import apache_iceberg_lakehouse_workshop_spark as pkg
        from apache_iceberg_lakehouse_workshop_spark import dialect, tables
        from apache_iceberg_lakehouse_workshop_spark.plans.accelerator import (
            AcceleratorRegistry,
        )

        t = self.tracer
        load_table = tables.load_table
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(pkg.__name__)
                    and getattr(mod, "load_table", None) is load_table):
                t.wrap(mod, "load_table", "tables", "load")
        t.wrap(dialect, "run", "dialect", "run")
        # the script runner's advisor asks these whether a reflection serves
        # the query, and builds the routed plan
        for attr in ROUTES:
            t.wrap(AcceleratorRegistry, attr, "accelerator", attr)
        self.trace_lake_reads()

    # --------------------------------------------------------------- ops

    def ops(self) -> list[Op]:
        out = [Op(f"queries.{n}", self._query_op(n)) for n in QUERIES]

        def build_reflections():
            with self.tracer.span("accelerator", "build"):
                self.runner.run(REFLECTIONS)
            return []  # routing of the script ops checks the reflections

        out.append(Op("accelerator.build", build_reflections))
        out += [Op(n, self._script_op(n, sql)) for n, (sql, _) in self.script.items()]
        return out

    def _query_op(self, name: str):
        fn = self.registry[name].fn

        def run():
            with self.tracer.span("queries", f"{name}.build"):
                df = fn(self.spark, self.data)
            with self.tracer.span("queries", f"{name}.exec"):
                return df.collect()

        return run

    def _script_op(self, name: str, sql: str):
        def run():
            with self.tracer.span("script", f"{name[7:]}.plan"):
                df = self.runner.run(sql)
            with self.tracer.span("script", f"{name[7:]}.exec"):
                return df, df.collect()

        return run

    def digest(self, name: str, result) -> str:
        return rows_digest(result[1] if name.startswith("script.") else result)

    # ------------------------------------------------------------ checks

    def check(self, results: dict, plant_wrong: bool = False) -> list[str]:
        """Registry queries against their DuckDB oracles, script queries
        against plain DuckDB SQL, and routing of the reflection shapes, all
        on the same files."""
        con = duckdb.connect()
        for t in self.rows:
            path = os.path.join(self.data, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        problems: list[str] = []
        for n in QUERIES:
            rows = list(results[f"queries.{n}"])
            if plant_wrong and n == QUERIES[0]:
                rows = rows[1:]
            rel = con.sql(self.registry[n].oracle)
            cols = list(rows[0].__fields__) if rows else rel.columns
            problems += compare_rows(n, cols, rows, rel.columns, rel.fetchall())
            self.checked.append(f"oracle:{n}")
        for n, (sql, routed) in self.script.items():
            df, rows = results[n]
            rel = con.sql(sql.replace("lake.", ""))
            cols = list(rows[0].__fields__) if rows else rel.columns
            problems += compare_rows(n, cols, rows, rel.columns, rel.fetchall(),
                                     rel_tol=1e-9)
            self.checked.append(f"oracle:{n}")
            if routed:
                if not reads_reflection(df):
                    problems.append(f"{n}: not served from its reflection")
                self.checked.append(f"routed:{n}")
        con.close()
        return problems

    # ----------------------------------------------------------- metrics

    def layer_metrics(self, spans, first, session_start_s, out_root):
        unstable = self.unstable_counters(spans, out_root)
        m = self.common_metrics(spans, first, session_start_s, unstable)
        tr = self.pass_spans(spans)

        def pick(layer, suffix=None, prefix=None):
            return [s for s in tr if s["layer"] == layer
                    and (suffix is None or s["op"].endswith(suffix))
                    and (prefix is None or s["op"].startswith(prefix))]

        loads = pick("tables")
        m["tables.load_s"] = S.seconds(loads)
        m["tables.load_jobs"] = S.total(loads, "jobs")
        builds, execs = pick("queries", ".build"), pick("queries", ".exec")
        m["queries.build_s"] = S.seconds(builds)
        m["queries.build_jobs"] = S.total(builds, "jobs")
        m["queries.exec_s"] = S.seconds(execs)
        for k in ("jobs", "tasks", "task_s", "cpu_s", "scan_rows",
                  "shuffle_bytes", "spill_bytes"):
            m[f"queries.{k}"] = S.total(execs, k)
        m["queries.cpu_util"] = S.total(execs, "cpu_s") / (
            S.seconds(execs) * self.nproc)
        for q in QUERIES:
            b, e = pick("queries", prefix=f"{q}.build"), pick("queries", prefix=f"{q}.exec")
            m[f"queries.{q}.build_s"] = S.seconds(b)
            m[f"queries.{q}.exec_s"] = S.seconds(e)
            m[f"queries.{q}.jobs"] = S.total(b + e, "jobs")
        plans, sexecs = pick("script", ".plan"), pick("script", ".exec")
        m["script.plan_s"] = S.seconds(plans)
        m["script.exec_s"] = S.seconds(sexecs)
        for k in ("jobs", "tasks", "scan_rows"):
            m[f"script.{k}"] = S.total(plans + sexecs, k)
        results = first["results"]
        routed = [s for s in sexecs
                  if reads_reflection(results["script." + s["op"][:-len(".exec")]][0])]
        m["accelerator.route_hit_ratio"] = len(routed) / len(self.script)
        m["accelerator.scan_rows"] = S.total(routed, "scan_rows")
        m["accelerator.routed_exec_s"] = S.seconds(routed)
        # outermost route calls only: routes may call one another
        ids = {s["id"]: s for s in tr}
        routes = [s for s in pick("accelerator") if s["op"] in ROUTES and not (
            s["parent"] in ids and ids[s["parent"]]["layer"] == "accelerator")]
        m["accelerator.route_s"] = S.seconds(routes)
        m["accelerator.route_calls"] = len(routes)
        build = [s for s in pick("accelerator") if s["op"] == "build"]
        m["accelerator.build_s"] = S.seconds(build)
        m["accelerator.build_jobs"] = S.total(build, "jobs")
        reads = pick("lakeshim", prefix="read")
        m["lakeshim.read.s"] = S.seconds(reads)
        m["lakeshim.read.files_planned"] = sum(len(s.get("files", ())) for s in reads)
        return m, unstable
