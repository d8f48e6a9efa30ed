"""Driver-contract smoke tests (entry / queries / oracle_sql)."""

import pytest

import __spark_entry__ as contract
from apache_iceberg_lakehouse_workshop_spark.registry import (
    DRIVER_WINDOW,
    FAMILY_COVERAGE,
    full_registry,
    registry,
)
from apache_iceberg_lakehouse_workshop_spark.queries_battery import ABSORBED


def test_entry_returns_rows(spark):
    df = contract.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"l_returnflag", "count_order", "avg_price"} <= set(df.columns)


def test_registry_shape(spark):
    qs = contract.queries()
    oracles = contract.oracle_sql()
    # the driver verifies the first DRIVER_WINDOW entries only — the exposed
    # registry must fit inside it so every operator gets a driver row
    assert len(qs) <= DRIVER_WINDOW
    assert len(qs) >= 45
    assert set(oracles) <= set(qs)
    # every exposed query carries a DuckDB oracle twin — the approximate /
    # hash-seeded operators were made engine-portable (md5 simhash, integer
    # LSH buckets, portable IVF seeding, hex frame payloads) so nothing is
    # rows-only anymore
    assert set(qs) == set(oracles)


def test_family_coverage():
    """Every SURVEY §2 operator family resolves to live registry entries —
    a new family (or a bad absorption) cannot silently drop out of the
    external correctness gate."""
    names = set(registry())
    for family, entries in FAMILY_COVERAGE.items():
        assert entries, family
        missing = [e for e in entries if e not in names]
        assert not missing, f"{family}: {missing} not in registry"
    # the coverage map accounts for every exposed entry
    covered = {n for v in FAMILY_COVERAGE.values() for n in v}
    assert covered == names


def test_absorption_targets_exist():
    """Every absorbed singleton still exists (tests/batteries use it) and
    its absorbing battery/merge is an exposed registry entry."""
    full = full_registry()
    reg = set(registry())
    for singleton, target in ABSORBED.items():
        assert singleton in full, singleton
        assert target in reg, f"{singleton} -> {target} not exposed"
        assert singleton not in reg, singleton


@pytest.fixture(scope="module")
def built_queries(spark, sf_dir):
    """Every registered query's DataFrame, constructed ONCE per module —
    the run-everything test and the plan-shape test below both need the
    same construction (which is the expensive half: several query fns
    build persisted indexes / checkpoint shared frames eagerly); building
    twice doubled the two slowest tests in the suite for no coverage."""
    return {
        name: query.fn(spark, sf_dir)
        for name, query in full_registry().items()
    }


def test_all_queries_run_sf0001(built_queries):
    """Every registered query (including absorbed singletons) executes and
    returns a well-formed result. The counts run a few at a time from a
    small thread pool (guide §2.6): each sf0.001 count is job-floor-bound,
    so overlapping them back-fills the driver gaps — same assertions,
    same per-query actions."""
    from concurrent.futures import ThreadPoolExecutor

    def run(item):
        name, df = item
        return name, df.count(), len(df.columns)

    with ThreadPoolExecutor(max_workers=4) as pool:
        for name, n, n_cols in pool.map(run, built_queries.items()):
            assert n >= 0, name
            assert n_cols > 0, name


def test_no_python_udf_outside_ai_multimodal(spark, sf_dir, built_queries):
    """Scale invariant: every relational/text/dedup query plan stays
    JVM-side, and row-at-a-time Python (BatchEvalPython) appears NOWHERE.
    Arrow-batched Python is sanctioned in exactly two places: the AI /
    multimodal families (Arrow pandas_udfs by design) and the ANN
    index-build kernels (dense int64 linear algebra where numpy matmul
    beats interpreted SQL lambdas ~20x — similarity.py, results pinned
    by the DuckDB oracles and test_ann_kernels_match_frozen_golden). A
    Python node sneaking into any other plan is a 100x-at-scale regression
    the oracle cannot see."""
    arrow_ok = ("ai", "mm", "s")  # AI, multimodal, similarity families
    arrow_ok_names = ("db_neardup_battery",)  # absorbs s5/s7/s8
    for name in registry():
        df = built_queries[name]
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BatchEvalPython" not in plan, name  # never, anywhere
        if name.startswith(arrow_ok) or name in arrow_ok_names:
            continue
        assert "ArrowEvalPython" not in plan, name
        assert "MapInPandas" not in plan, name
        assert "MapInArrow" not in plan, name
