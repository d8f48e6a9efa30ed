"""DROP COLUMN + type-widening schema evolution (SURVEY §1.3; Iceberg's
allowed evolution surface the reference leans on — /root/reference/
readme.md:357-370 area): metadata-only commits, old data never rewritten,
old snapshots time-travel under their own schema epoch, file skipping
stays sound across widened types, and a dropped-then-re-added column
never resurrects stale values."""

import pytest
from pyspark.sql import functions as F

from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def _seed(spark, lake, name="db.ev", partition_by=None):
    t = lake.create_table(
        name, "id INT, amount DOUBLE, tag STRING", partition_by=partition_by
    )
    t.append(
        spark.createDataFrame(
            [(1, 10.0, "a"), (2, 20.0, "b")], "id INT, amount DOUBLE, tag STRING"
        )
    )
    return t


# ------------------------------------------------------------ DROP COLUMN


def test_drop_column_metadata_only(lake, spark):
    t = _seed(spark, lake)
    t.drop_column("tag")
    assert t.read().columns == ["id", "amount"]
    # data files were not rewritten: the old snapshot still holds the column
    assert t.read(snapshot_id=1).columns == ["id", "amount", "tag"]
    assert {r.id: r.tag for r in t.read(snapshot_id=1).collect()} == {1: "a", 2: "b"}
    with pytest.raises(ValueError):
        t.drop_column("tag")  # already gone


def test_drop_partition_source_column_rejected(lake, spark):
    t = lake.create_table(
        "db.p", "id INT, ts TIMESTAMP, v DOUBLE", partition_by=["days(ts)"]
    )
    with pytest.raises(ValueError):
        t.drop_column("ts")
    t2 = lake.create_table("db.p2", "id INT, k INT, v DOUBLE", partition_by=["k"])
    with pytest.raises(ValueError):
        t2.drop_column("k")


def test_drop_then_readd_reads_null_not_stale(lake, spark):
    """Iceberg guarantees a re-added column never resurrects pre-drop
    values (field ids); the shim via per-drop dir tombstones."""
    t = _seed(spark, lake)
    t.drop_column("tag")
    t.add_column("tag", "STRING")
    # pre-drop rows: NULL, not 'a'/'b'
    assert {r.id: r.tag for r in t.read().collect()} == {1: None, 2: None}
    # post-re-add appends carry real values
    t.append(spark.createDataFrame([(3, 30.0, "c")], "id INT, amount DOUBLE, tag STRING"))
    assert {r.id: r.tag for r in t.read().collect()} == {1: None, 2: None, 3: "c"}
    # predicates over the re-added column see the NULL semantics (and the
    # stale footer stats for old files must not mis-prune: NULL rows never
    # match, so any pruning decision is sound — assert equivalence)
    assert t.read(where="tag = 'a'").count() == 0
    assert t.read(where="tag = 'c'").count() == 1
    # time travel to the pre-drop snapshot still shows the original values
    assert {r.id: r.tag for r in t.read(snapshot_id=1).collect()} == {1: "a", 2: "b"}


def test_drop_readd_dml_consistency(lake, spark):
    """Affected-only DML reads through the same tombstone path."""
    t = _seed(spark, lake)
    t.drop_column("tag")
    t.add_column("tag", "STRING")
    t.append(spark.createDataFrame([(3, 30.0, "c")], "id INT, amount DOUBLE, tag STRING"))
    t.update_where({"tag": "'fixed'"}, "tag IS NULL")
    assert {r.id: r.tag for r in t.read().collect()} == {
        1: "fixed", 2: "fixed", 3: "c",
    }


def test_drop_column_sql_surface(lake, spark):
    _seed(spark, lake, "db.sq")
    lake.run_script("ALTER TABLE db.sq DROP COLUMN tag")
    assert lake.table("db.sq").read().columns == ["id", "amount"]


# ------------------------------------------------------------ widening


def test_widen_int_to_long(lake, spark):
    t = _seed(spark, lake)
    t.widen_column("id", "BIGINT")
    assert dict(t.read().dtypes)["id"] == "bigint"
    # old narrow data reads exactly
    assert {r.id for r in t.read().collect()} == {1, 2}
    # new wide data appends (beyond int32)
    t.append(
        spark.createDataFrame(
            [(2**40, 99.0, "z")], "id BIGINT, amount DOUBLE, tag STRING"
        )
    )
    assert t.read(where=f"id = {2**40}").count() == 1
    # the pre-widen snapshot still reads as INT (its own schema epoch)
    assert dict(t.read(snapshot_id=1).dtypes)["id"] == "int"


def test_widen_rejects_narrowing_and_cross_family(lake, spark):
    t = _seed(spark, lake)
    for bad in [("id", "SMALLINT"), ("id", "DOUBLE"), ("amount", "FLOAT"),
                ("amount", "BIGINT"), ("tag", "INT")]:
        with pytest.raises(ValueError):
            t.widen_column(*bad)


def test_widen_decimal_precision_growth(lake, spark):
    from decimal import Decimal

    t = lake.create_table("db.dec", "id INT, price DECIMAL(10,2)")
    t.append(
        spark.createDataFrame([(1, Decimal("12.34"))], "id INT, price DECIMAL(10,2)")
    )
    t.widen_column("price", "DECIMAL(20,2)")
    assert dict(t.read().dtypes)["price"] == "decimal(20,2)"
    with pytest.raises(ValueError):
        t.widen_column("price", "DECIMAL(20,4)")  # scale change is not lossless


def test_widen_skipping_soundness_beyond_float53(lake, spark):
    """Identity-partition stats are strings; after widening to BIGINT the
    literal can exceed 2^53 where a float round-trip collapses neighbours
    — the exact-int compare must keep the matching file."""
    t = lake.create_table("db.big", "k INT, v DOUBLE", partition_by=["k"])
    t.append(spark.createDataFrame([(1, 1.0), (2, 2.0)], "k INT, v DOUBLE"))
    t.widen_column("k", "BIGINT")
    big = 2**53 + 1
    t.append(spark.createDataFrame([(big, 3.0), (big - 1, 4.0)], "k BIGINT, v DOUBLE"))
    # equality and strict inequality around the float-collapse point
    assert t.read(where=f"k = {big}").count() == 1
    assert t.read(where=f"k > {big - 1}").count() == 1
    assert t.read(where=f"k >= {big}").count() == 1
    # pruning-vs-filter equivalence on the whole table
    for pred in [f"k = {big}", f"k > {big - 1}", "k <= 2", f"k BETWEEN 2 AND {big}"]:
        assert t.read(where=pred).count() == t.read().filter(pred).count()


def test_widen_sql_surface(lake, spark):
    _seed(spark, lake, "db.wq")
    lake.run_script("ALTER TABLE db.wq ALTER COLUMN id TYPE BIGINT")
    assert dict(lake.table("db.wq").read().dtypes)["id"] == "bigint"


# -------------------------------------------------- schema-epoch travel


def test_time_travel_pre_evolution_shape(lake, spark):
    """VERSION AS OF reads the snapshot under the schema it was committed
    with — adds/renames/drops after it are invisible (Iceberg per-snapshot
    schema-id semantics)."""
    t = _seed(spark, lake)  # snapshot 1
    t.add_column("channel", "STRING")
    t.append(
        spark.createDataFrame(
            [(3, 30.0, "c", "web")], "id INT, amount DOUBLE, tag STRING, channel STRING"
        )
    )  # snapshot 2
    t.rename_column("amount", "amount_usd")
    t.append(
        spark.createDataFrame(
            [(4, 40.0, "d", "app")],
            "id INT, amount_usd DOUBLE, tag STRING, channel STRING",
        )
    )  # snapshot 3

    assert t.read(snapshot_id=1).columns == ["id", "amount", "tag"]
    assert t.read(snapshot_id=2).columns == ["id", "amount", "tag", "channel"]
    assert t.read(snapshot_id=3).columns == ["id", "amount_usd", "tag", "channel"]
    assert t.read().columns == ["id", "amount_usd", "tag", "channel"]
    # values land under the epoch's names
    assert {r.id: r.amount for r in t.read(snapshot_id=2).collect()} == {
        1: 10.0, 2: 20.0, 3: 30.0,
    }
    assert {r.id: r.amount_usd for r in t.read().collect()} == {
        1: 10.0, 2: 20.0, 3: 30.0, 4: 40.0,
    }


def test_travel_where_pushdown_respects_epoch_aliases(lake, spark):
    """A time-travel read with a WHERE uses the epoch's alias map for the
    stats lookup — the current map may not even contain the old name."""
    t = _seed(spark, lake)
    t.rename_column("amount", "amount_usd")
    t.append(
        spark.createDataFrame([(3, 30.0, "c")], "id INT, amount_usd DOUBLE, tag STRING")
    )
    assert t.read(snapshot_id=1, where="amount > 15").count() == 1
    assert t.read(where="amount_usd > 15").count() == 2


def test_double_rename_with_appends_between_reads_all_generations(lake, spark):
    """Data written under an INTERMEDIATE rename name must stay readable:
    the read side coalesces the full rename lineage (current + every prior
    physical name), not just the original."""
    t = lake.create_table("ev.chain", "id BIGINT, v STRING")
    t.append(spark.createDataFrame([(1, "one")], "id BIGINT, v STRING"))
    t.rename_column("id", "a")
    t.append(spark.createDataFrame([(2, "two")], "a BIGINT, v STRING"))
    t.rename_column("a", "b")
    t.append(spark.createDataFrame([(3, "three")], "b BIGINT, v STRING"))
    assert sorted((r.b, r.v) for r in t.read().collect()) == [
        (1, "one"), (2, "two"), (3, "three"),
    ]
    # equality deletes and upserts reach every generation too
    t.delete_by_key(spark.createDataFrame([(2,)], "b BIGINT"))
    t.upsert_equality(
        spark.createDataFrame([(1, "ONE")], "b BIGINT, v STRING"), "b"
    )
    assert sorted((r.b, r.v) for r in t.read().collect()) == [
        (1, "ONE"), (3, "three"),
    ]
    # predicate reads still work across the chain (pruning is conservative
    # for generations whose stats live under old names — never wrong)
    assert [r.v for r in t.read(where="b = 3").collect()] == ["three"]


def test_branch_snapshot_before_evolution_keeps_its_epoch(lake, spark):
    """ADVICE r7: branch snapshots take ids ABOVE main's head, so the
    schema log's valid_through must bound by the table-wide max id — a
    branch commit made before an evolution reads under the pre-evolution
    epoch, not the new schema."""
    t = _seed(spark, lake)
    t.create_branch("audit")
    t.append_to_branch(
        "audit",
        spark.createDataFrame([(3, 30.0, "c")], "id INT, amount DOUBLE, tag STRING"),
    )
    bid = t.branches()["audit"]
    assert bid > t._load_meta()["current_snapshot_id"]  # the hazard setup
    t.add_column("channel", "STRING")
    # committed before the evolution -> pre-evolution epoch (no 'channel')
    assert "channel" not in t.read_branch("audit").columns
    assert sorted(r.id for r in t.read_branch("audit").collect()) == [1, 2, 3]
    # a post-evolution branch commit reads under the NEW schema
    t.append_to_branch(
        "audit",
        spark.createDataFrame(
            [(4, 40.0, "d", "web")], "id INT, amount DOUBLE, tag STRING, channel STRING"
        ),
    )
    assert "channel" in t.read_branch("audit").columns


def test_drop_partition_field_keeps_pre_drop_partition_values(lake, spark):
    """Dropping an identity partition field is an evolution: it logs a
    schema epoch, so reads stop pinning the recorded per-dir schema (which
    excludes the directory-borne column and, once the field leaves the
    spec, no longer gets it appended). Rows written while the field
    partitioned the table keep their directory values either way."""
    from pyspark.sql import types as T

    t = _seed(spark, lake, partition_by=["tag"])
    t.drop_partition_field("tag")
    meta = t._load_meta()
    dirs = [f"{t.path}/data/{d}" for d in t._current_snapshot(meta)["commit_dirs"]]
    schema = T.StructType.fromJson(meta["schema"])
    assert meta["schema_log"] and t._static_read_schema(meta, schema, dirs) is None
    assert sorted((r.id, r.tag) for r in t.read().collect()) == [(1, "a"), (2, "b")]
    t.append(spark.createDataFrame([(3, 30.0, "c")], "id INT, amount DOUBLE, tag STRING"))
    got = sorted((r.id, r.tag) for r in t.read().collect())
    assert got == [(1, "a"), (2, "b"), (3, "c")]
    assert sorted(r.id for r in t.read(where="tag = 'b'").collect()) == [2]


# ------------------------------------------- rename across a scoped compact


def _rename_compact_rename(spark, lake):
    """(id, a, v) with two appends; rename a -> b; compact(where='b = 1');
    rename b -> c. The scoped compaction records its commit filter under
    the INTERMEDIATE name ``b``, which is neither the current name nor the
    physical one — only the rename lineage resolves it."""
    t = lake.create_table("ev.rcr", "id INT, a INT, v INT")
    t.append(spark.createDataFrame(
        [(1, 1, 10), (2, 2, 20), (3, 1, 30)], "id INT, a INT, v INT"
    ))
    t.append(spark.createDataFrame([(11, 1, 110), (12, 2, 120)], "id INT, a INT, v INT"))
    t.rename_column("a", "b")
    t.compact(where="b = 1")
    t.rename_column("b", "c")
    model = {1: (1, 10), 2: (2, 20), 3: (1, 30), 11: (1, 110), 12: (2, 120)}
    return t, model


def _rows(df):
    return {r["id"]: (r["c"], r["v"]) for r in df.collect()}


def _op_delete_cow(spark, t, model):
    t.delete_where("id < 10")
    return {k: r for k, r in model.items() if not k < 10}


def _op_delete_mor(spark, t, model):
    t.delete_where("id < 10", mode="merge-on-read")
    return {k: r for k, r in model.items() if not k < 10}


def _op_update_cow(spark, t, model):
    t.update_where({"v": "v + 1"}, "id < 10")
    return {k: (c, v + 1) if k < 10 else (c, v) for k, (c, v) in model.items()}


def _op_read_with_coords(spark, t, model):
    live = t.read_with_coords(where="id < 10")
    assert {"__sg_file", "__sg_pos"} <= set(live.columns)
    assert _rows(live) == {k: r for k, r in model.items() if k < 10}
    return model


def _op_merge(spark, t, model):
    # source keys 2..4: the second append's dir (ids 11, 12) is untouched,
    # so the affected-only rewrite reads the filtered dirs
    src = spark.createDataFrame([(2, 7, 200), (4, 8, 400)], "id INT, c INT, v INT")
    t.merge(src, "id")
    return {**model, 2: (7, 200), 4: (8, 400)}


def _op_merge_into(spark, t, model):
    src = spark.createDataFrame([(2, 7, 200), (4, 8, 400)], "id INT, c INT, v INT")
    t.merge_into(
        src, "t.id = s.id",
        matched=[("update", None, "*")],
        not_matched=[(None, None, None)],
    )
    return {**model, 2: (7, 200), 4: (8, 400)}


def _op_fold_deletes(spark, t, model):
    t.delete_by_key(spark.createDataFrame([(2,)], "id INT"))
    t.fold_deletes()
    snap = t._current_snapshot(t._load_meta())
    assert not snap.get("eq_deletes") and len(snap.get("delete_dirs", [])) == 1
    return {k: r for k, r in model.items() if k != 2}


@pytest.mark.parametrize("op", [
    _op_delete_cow, _op_delete_mor, _op_update_cow, _op_read_with_coords,
    _op_merge, _op_merge_into, _op_fold_deletes,
], ids=lambda f: f.__name__.removeprefix("_op_"))
def test_dml_after_rename_compact_rename(lake, spark, op):
    """Every DML and coordinate read resolves a commit filter recorded
    under an intermediate rename name, and leaves the table equal to a
    pure-Python row model."""
    t, model = _rename_compact_rename(spark, lake)
    assert _rows(t.read()) == model
    assert _rows(t.read(where="id < 10")) == {k: r for k, r in model.items() if k < 10}
    want = op(spark, t, model)
    assert _rows(t.read()) == want
