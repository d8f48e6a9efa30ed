"""Iceberg v2 merge-on-read DELETE: position-delete files
(_metadata.file_path / row_index) applied by anti-join at read, carried by
appends, materialized away by full-rewrite DML and compaction."""

import os

import pytest
from pyspark.sql import functions as F

from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def _mk(lake, spark, name="ns.t"):
    lake.create_namespace("ns")
    t = lake.create_table(name, "id BIGINT, v STRING, g BIGINT")
    t.append(
        spark.range(10).select(
            F.col("id"),
            F.concat(F.lit("v"), F.col("id")).alias("v"),
            (F.col("id") % 2).alias("g"),
        )
    )
    return t


def _data_files(t):
    snap = t._current_snapshot(t._load_meta())
    out = []
    for d in snap["commit_dirs"]:
        for root, _dirs, names in os.walk(os.path.join(t.path, "data", d)):
            out += [os.path.join(root, n) for n in names if n.endswith(".parquet")]
    return sorted(out)


def test_mor_delete_rewrites_no_data_file(lake, spark):
    t = _mk(lake, spark)
    before = _data_files(t)
    s1 = t._load_meta()["current_snapshot_id"]
    t.delete_where("id >= 7", mode="merge-on-read")
    assert sorted(r.id for r in t.read().collect()) == list(range(7))
    # the data-file set is IDENTICAL — only a delete dir was added
    assert _data_files(t) == before
    snap = t._current_snapshot(t._load_meta())
    assert len(snap.get("delete_dirs", [])) == 1
    # prior snapshot still sees every row (time travel unaffected)
    assert sorted(r.id for r in t.read(snapshot_id=s1).collect()) == list(range(10))


def test_mor_deletes_compound_and_never_rematch(lake, spark):
    t = _mk(lake, spark)
    t.delete_where("id >= 7", mode="merge-on-read")
    t.delete_where("id = 3", mode="merge-on-read")
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 4, 5, 6]
    # a predicate matching only already-deleted rows is metadata-only
    meta = t._load_meta()
    n_dirs = len(t._current_snapshot(meta).get("delete_dirs", []))
    t.delete_where("id = 8", mode="merge-on-read")
    meta = t._load_meta()
    assert len(t._current_snapshot(meta).get("delete_dirs", [])) == n_dirs
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 4, 5, 6]


def test_mor_mode_via_table_property_and_sql(lake, spark):
    t = _mk(lake, spark)
    before = _data_files(t)
    t.set_properties({"write.delete.mode": "merge-on-read"})
    # plain DELETE FROM routes through the property — Iceberg's knob
    lake.run_script("DELETE FROM ns.t WHERE id = 5;")
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4, 6, 7, 8, 9]
    assert _data_files(t) == before
    t.unset_properties(["write.delete.mode"])
    t.delete_where("id = 6")  # back to CoW: rewrites, clears delete dirs
    snap = t._current_snapshot(t._load_meta())
    assert not snap.get("delete_dirs")
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4, 7, 8, 9]


def test_mor_reads_compose_with_where_skipping_and_appends(lake, spark):
    t = _mk(lake, spark)
    t.delete_where("id = 2", mode="merge-on-read")
    assert sorted(r.id for r in t.read(where="id >= 1 AND id <= 4").collect()) == [1, 3, 4]
    t.append(spark.createDataFrame([(100, "x", 0)], "id BIGINT, v STRING, g BIGINT"))
    snap = t._current_snapshot(t._load_meta())
    assert len(snap.get("delete_dirs", [])) == 1  # appends carry deletes
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 3, 4, 5, 6, 7, 8, 9, 100]


def test_full_rewrites_materialize_deletes_away(lake, spark):
    t = _mk(lake, spark)
    t.delete_where("id >= 8", mode="merge-on-read")
    t.update_where({"v": "'upd'"}, "id = 1")
    snap = t._current_snapshot(t._load_meta())
    assert not snap.get("delete_dirs")
    assert sorted(r.id for r in t.read().collect()) == list(range(8))

    t.delete_where("id = 0", mode="merge-on-read")
    t.compact()
    snap = t._current_snapshot(t._load_meta())
    assert not snap.get("delete_dirs")
    assert sorted(r.id for r in t.read().collect()) == list(range(1, 8))

    t.delete_where("id = 7", mode="merge-on-read")
    src = spark.createDataFrame(
        [(3, "merged", 1), (200, "new", 0)], "id BIGINT, v STRING, g BIGINT"
    )
    t.merge(src, "id")
    got = {r.id: r.v for r in t.read().collect()}
    assert 7 not in got and got[3] == "merged" and got[200] == "new"
    assert not t._current_snapshot(t._load_meta()).get("delete_dirs")


def test_scoped_compact_carries_deletes(lake, spark):
    t = _mk(lake, spark)
    t.delete_where("id = 1", mode="merge-on-read")  # odd partition, survives scope
    t.compact(where="g = 0")  # rewrite only the even-g rows
    snap = t._current_snapshot(t._load_meta())
    assert snap.get("delete_dirs"), "scoped compact must carry delete dirs"
    assert sorted(r.id for r in t.read().collect()) == [0, 2, 3, 4, 5, 6, 7, 8, 9]


def test_expire_keeps_live_delete_dirs(lake, spark):
    t = _mk(lake, spark)
    t.delete_where("id = 4", mode="merge-on-read")
    t.append(spark.createDataFrame([(50, "y", 0)], "id BIGINT, v STRING, g BIGINT"))
    t.expire_snapshots(keep_last=1)
    # current snapshot still references the delete dir — rows stay deleted
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 5, 6, 7, 8, 9, 50]
    # materialize, then expire: the delete dir becomes unreferenced and is removed
    t.compact()
    t.expire_snapshots(keep_last=1)
    data_root = os.path.join(t.path, "data")
    assert not [d for d in os.listdir(data_root) if d.startswith("deletes-")]
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 5, 6, 7, 8, 9, 50]


def test_mor_null_predicate_rows_survive(lake, spark):
    lake.create_namespace("ns")
    t = lake.create_table("ns.n", "id BIGINT, v STRING")
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, None), (3, "b")], "id BIGINT, v STRING"
        )
    )
    t.delete_where("v = 'a'", mode="merge-on-read")
    # v IS NULL makes the predicate NULL, not TRUE: the row survives
    assert sorted(r.id for r in t.read().collect()) == [2, 3]


def test_mor_update_position_deletes_plus_appended_copies(lake, spark):
    t = _mk(lake, spark)
    before = _data_files(t)
    t.update_where({"v": "concat(v, '!')"}, "id >= 8", mode="merge-on-read")
    got = {r.id: r.v for r in t.read().collect()}
    assert got[8] == "v8!" and got[9] == "v9!" and got[0] == "v0"
    assert len(got) == 10
    # old files intact; one new commit dir holds the two updated copies
    assert set(before) <= set(_data_files(t))
    snap = t._current_snapshot(t._load_meta())
    assert len(snap.get("delete_dirs", [])) == 1
    # property-routed, no-match predicate: metadata-only
    t.set_properties({"write.update.mode": "merge-on-read"})
    t.update_where({"v": "'x'"}, "id = 999")
    assert len(t._current_snapshot(t._load_meta()).get("delete_dirs", [])) == 1
    # updated rows can be MoR-updated again (their copies have coordinates)
    t.update_where({"v": "concat(v, '?')"}, "id = 9")
    got = {r.id: r.v for r in t.read().collect()}
    assert got[9] == "v9!?" and len(got) == 10


def test_mor_merge_upsert(lake, spark):
    t = _mk(lake, spark)
    before = _data_files(t)
    src = spark.createDataFrame(
        [(3, "m3", 1), (300, "new", 0)], "id BIGINT, v STRING, g BIGINT"
    )
    t.merge(src, "id", mode="merge-on-read")
    got = {r.id: r.v for r in t.read().collect()}
    assert got[3] == "m3" and got[300] == "new" and len(got) == 11
    assert set(before) <= set(_data_files(t))
    snap = t._current_snapshot(t._load_meta())
    assert len(snap.get("delete_dirs", [])) == 1
    # insert-only source: no delete dir added
    t.merge(
        spark.createDataFrame([(301, "i", 1)], "id BIGINT, v STRING, g BIGINT"),
        "id",
        mode="merge-on-read",
    )
    snap = t._current_snapshot(t._load_meta())
    assert len(snap.get("delete_dirs", [])) == 1
    assert {r.id for r in t.read().collect()} == set(range(10)) | {300, 301}
    # CoW merge afterwards materializes everything away
    t.merge(
        spark.createDataFrame([(0, "z", 0)], "id BIGINT, v STRING, g BIGINT"),
        "id",
        mode="copy-on-write",
    )
    snap = t._current_snapshot(t._load_meta())
    assert not snap.get("delete_dirs")
    got = {r.id: r.v for r in t.read().collect()}
    assert got[0] == "z" and got[3] == "m3" and len(got) == 12


def test_mor_update_and_merge_modes_via_sql_properties(lake, spark):
    """Plain UPDATE / MERGE INTO statements route through write.update.mode
    / write.merge.mode set by ALTER TABLE ... SET TBLPROPERTIES — the
    Iceberg knobs, no API-only switch."""
    t = _mk(lake, spark)
    before = _data_files(t)
    lake.run_script(
        "ALTER TABLE ns.t SET TBLPROPERTIES ("
        "'write.update.mode' = 'merge-on-read', "
        "'write.merge.mode' = 'merge-on-read');"
    )
    lake.run_script("UPDATE ns.t SET v = concat(v, '!') WHERE id = 7;")
    got = {r.id: r.v for r in t.read().collect()}
    assert got[7] == "v7!" and len(got) == 10
    assert set(before) <= set(_data_files(t))
    assert len(t._current_snapshot(t._load_meta()).get("delete_dirs", [])) == 1
    spark.createDataFrame(
        [(1, "m1", 1), (500, "new", 0)], "id BIGINT, v STRING, g BIGINT"
    ).createOrReplaceTempView("mor_src")
    lake.run_script(
        "MERGE INTO ns.t AS t USING mor_src AS s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET * "
        "WHEN NOT MATCHED THEN INSERT *;"
    )
    got = {r.id: r.v for r in t.read().collect()}
    assert got[1] == "m1" and got[500] == "new" and len(got) == 11
    assert set(before) <= set(_data_files(t))
    assert len(t._current_snapshot(t._load_meta()).get("delete_dirs", [])) == 2
    # a conditional MERGE honours the property too
    lake.run_script(
        "MERGE INTO ns.t AS t USING mor_src AS s ON t.id = s.id "
        "WHEN MATCHED AND s.g > 0 THEN UPDATE SET v = concat(s.v, '?') "
        "WHEN NOT MATCHED THEN INSERT *;"
    )
    got = {r.id: r.v for r in t.read().collect()}
    assert got[1] == "m1?" and got[500] == "new" and len(got) == 11
    assert set(before) <= set(_data_files(t))
    assert len(t._current_snapshot(t._load_meta()).get("delete_dirs", [])) == 3


def test_rollback_to_mor_snapshot_keeps_deletes(lake, spark):
    """ADVICE r7 (high): rollback must carry the target snapshot's
    outstanding position-delete state — rolling back to (or past) a
    merge-on-read DELETE must not resurrect the deleted rows."""
    t = _mk(lake, spark)
    t.delete_where("id >= 5", mode="merge-on-read")
    s_del = t._load_meta()["current_snapshot_id"]
    t.append(spark.range(100, 103).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") % 2).alias("g")))
    # roll back TO the MoR-delete snapshot: 5 rows, not 10
    t.rollback_to(s_del)
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]
    # the timestamp flavor routes through the same fix
    snaps = {r.snapshot_id: r.committed_at_ms for r in t.snapshots().collect()}
    t.rollback_to_timestamp(snaps[s_del])
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]


def test_sql_rollback_keeps_mor_deletes(lake, spark):
    t = _mk(lake, spark)
    t.delete_where("id >= 5", mode="merge-on-read")
    s_del = t._load_meta()["current_snapshot_id"]
    t.append(spark.range(100, 103).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") % 2).alias("g")))
    lake.run_script(f"ROLLBACK TABLE ns.t TO SNAPSHOT '{s_del}';")
    assert sorted(r.id for r in t.read().collect()) == [0, 1, 2, 3, 4]


def test_mor_delete_coordinate_scan_is_file_pruned(lake, spark, monkeypatch):
    """r12: the merge-on-read DELETE's coordinate scan runs the same
    file-level min/max skipping as reads — a file whose stats prove no
    row matches holds no coordinate the delete could emit, so it is
    never scanned (the MoR path rewrites nothing; unscanned files stay
    live untouched)."""
    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable

    lake.create_namespace("ns")
    clustered = (
        spark.range(1000)
        .select(F.col("id"), (F.col("id") % 7).alias("g"))
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id")
    )
    lake.create_table_as("ns.big", clustered)
    t = lake.table("ns.big")
    total = len(_data_files(t))
    assert total >= 4
    calls = []
    real = LakeTable._read_dirs

    def spy(self, dirs, file_lists=None, *a, **kw):
        calls.append(file_lists)
        return real(self, dirs, file_lists, *a, **kw)

    monkeypatch.setattr(LakeTable, "_read_dirs", spy)
    t.delete_where("id IN (3, 4)", mode="merge-on-read")
    pruned = [fl for fl in calls if fl is not None]
    assert pruned, "the coordinate scan received no file list"
    kept = sum(len(x) for x in pruned[0] if x is not None)
    assert 0 < kept < total
    assert sorted(r.id for r in t.read().filter("id < 6").collect()) == [
        0, 1, 2, 5,
    ]
    # a predicate provably matching nothing reads zero files (the scan
    # gets an all-empty file list) and commits metadata-only
    t.delete_where("id = 999999", mode="merge-on-read")
    assert calls[-1] is not None and all(x == [] for x in calls[-1])
    snap = t._current_snapshot(t._load_meta())
    assert len(snap.get("delete_dirs", [])) == 1  # no new delete dir


def test_read_with_coords_and_delete_positions_roundtrip(lake, spark):
    """r14 fused-DML surface: an index refresh reads its matched rows ONCE
    with physical coordinates, proves its property on the checkpointed
    result, and deletes the same rows via delete_positions — no second
    scan. Contract pinned here: (a) read_with_coords(where) returns
    exactly read().filter(where)'s rows plus coordinates, (b)
    delete_positions removes exactly those rows merge-on-read (no data
    file rewritten), (c) an EMPTY coordinate frame commits a
    metadata-only delete snapshot (no new delete dir), and (d) the fused
    delete_where empty-match path still commits without losing rows."""
    t = _mk(lake, spark)
    files_before = _data_files(t)
    live = t.read_with_coords(where="id BETWEEN 3 AND 5")
    rows = live.select("id", "v", "g", "__sg_file", "__sg_pos").collect()
    assert sorted(r["id"] for r in rows) == [3, 4, 5]
    want = {(r["id"], r["v"], r["g"]) for r in t.read().filter("id BETWEEN 3 AND 5").collect()}
    assert {(r["id"], r["v"], r["g"]) for r in rows} == want
    coords = live.filter("id IN (3, 5)")
    t.delete_positions(coords)
    assert sorted(r["id"] for r in t.read().collect()) == [0, 1, 2, 4, 6, 7, 8, 9]
    snap = t._current_snapshot(t._load_meta())
    assert snap["operation"] == "delete"
    assert len(snap.get("delete_dirs", [])) == 1
    assert _data_files(t) == files_before, "MoR: no data file rewritten"
    # empty coordinate frame: metadata-only snapshot, no new delete dir
    empty = t.read_with_coords(where="id = 3")  # already deleted
    n_before = len(snap.get("delete_dirs", []))
    t.delete_positions(empty)
    snap2 = t._current_snapshot(t._load_meta())
    assert snap2["operation"] == "delete"
    assert len(snap2.get("delete_dirs", [])) == n_before
    # fused delete_where paths: a no-match MoR delete is metadata-only
    # (outstanding delete dirs carried unchanged); a no-match CoW delete
    # keeps every row (and may legitimately materialize the delete files
    # away — CoW-after-MoR); a full-match CoW delete empties the table
    t.delete_where("id = 12345", mode="merge-on-read")
    assert t.read().count() == 8
    assert len(
        t._current_snapshot(t._load_meta()).get("delete_dirs", [])
    ) == n_before
    t.delete_where("id = 12345")
    assert t.read().count() == 8
    t.delete_where("true")
    assert t.read().count() == 0


def test_read_with_coords_empty_and_fully_pruned(lake, spark):
    """read_with_coords returns None for an empty table and when file
    stats prove no row can match — the zero-matching-rows contract the
    refresh callers branch on."""
    lake.create_namespace("ns")
    t = lake.create_table("ns.empty", "id BIGINT, v STRING")
    assert t.read_with_coords() is None
    t.append(spark.range(5).select("id", F.lit("x").alias("v")))
    assert t.read_with_coords(where="id > 1000000") is None
    got = t.read_with_coords(where="id >= 3")
    assert sorted(r["id"] for r in got.collect()) == [3, 4]


@pytest.mark.parametrize("between", ["compact", "append"])
def test_delete_positions_is_bound_to_the_scanned_snapshot(lake, spark, between):
    """A commit landing between read_with_coords and delete_positions
    (a compaction moves every row to new files; an append adds rows the
    coordinates never saw) must abort the delete with CommitConflictError
    — committing against the new snapshot would leave the coordinates
    dangling and the targeted rows alive."""
    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import (
        CommitConflictError,
    )

    t = _mk(lake, spark)
    t.append(spark.range(10, 12).select(
        "id", F.lit("w").alias("v"), F.lit(0).cast("long").alias("g")
    ))
    coords = t.read_with_coords(where="id IN (2, 4)").localCheckpoint(eager=True)
    if between == "compact":
        t.compact()
    else:
        t.append(spark.range(12, 13).select(
            "id", F.lit("w").alias("v"), F.lit(0).cast("long").alias("g")
        ))
    head = t._load_meta()["current_snapshot_id"]
    with pytest.raises(CommitConflictError):
        t.delete_positions(coords)
    assert t._load_meta()["current_snapshot_id"] == head
    assert {2, 4} <= {r.id for r in t.read().collect()}
    # re-read against the new snapshot: the retry deletes exactly the rows
    t.delete_positions(t.read_with_coords(where="id IN (2, 4)"))
    assert not {2, 4} & {r.id for r in t.read().collect()}
    with pytest.raises(ValueError, match="read_with_coords"):
        lake.table("ns.t").delete_positions(coords)  # unbound handle


def test_mor_update_is_one_pass(lake, spark):
    """A merge-on-read UPDATE decides "nothing matched" from the footer
    count of the coordinate write instead of an isEmpty() job: the
    checkpointed matched rows feed the delete write and the updated
    copies, and nothing else runs over them (its job count is the
    ``update_where`` row of ``DML_JOBS``)."""
    t = _mk(lake, spark)
    t.update_where({"v": "'u'"}, "id IN (3, 4)", mode="merge-on-read")
    assert {r.id: r.v for r in t.read().collect() if r.v == "u"} == {3: "u", 4: "u"}
    assert t.read().count() == 10
    snap = t._current_snapshot(t._load_meta())
    assert len(snap["delete_dirs"]) == 1 and len(snap["commit_dirs"]) == 2
    # nothing matched: a metadata-only snapshot, no delete dir, no new data
    data_dirs = sorted(os.listdir(os.path.join(t.path, "data")))
    t.update_where({"v": "'w'"}, "id = 12345", mode="merge-on-read")
    snap2 = t._current_snapshot(t._load_meta())
    assert snap2["commit_dirs"] == snap["commit_dirs"]
    assert snap2["delete_dirs"] == snap["delete_dirs"]
    assert sorted(os.listdir(os.path.join(t.path, "data"))) == data_dirs


def test_read_paths_agree_on_every_kind_of_scan_state(lake, spark):
    """One table carrying outstanding position AND equality deletes, a
    partition-scoped commit filter and a dropped-then-re-added column:
    ``read()``, ``read_with_coords()`` minus its coordinates and the table
    after ``fold_deletes()`` return the same rows. A copy-on-write DELETE
    whose split carries untouched dirs equals ``read().filter(NOT cond)``."""
    lake.create_namespace("ns")
    t = lake.create_table(
        "ns.all", "id BIGINT, part BIGINT, tag STRING", partition_by=["part"]
    )

    def rows(lo, hi, tag):
        return spark.range(lo, hi).select(
            "id", (F.col("id") % 2).alias("part"),
            F.concat(F.lit(tag), F.col("id").cast("string")).alias("tag"),
        )

    t.append(rows(0, 10, "a"))
    t.append(rows(10, 20, "b"))
    t.drop_column("tag")
    t.add_column("tag", "STRING")
    t.append(rows(20, 25, "n"))
    t.compact(where="part = 1")
    scoped = t._load_meta()["current_snapshot_id"]
    model = {
        i: (i % 2, f"n{i}" if i >= 20 else None) for i in range(25)
    }
    t.delete_where("id IN (3, 12, 21)", mode="merge-on-read")
    t.delete_by_key(spark.createDataFrame([(4,), (15,)], "id BIGINT"))
    t.append(spark.createDataFrame([(4, 0, "again")], "id BIGINT, part BIGINT, tag STRING"))
    for k in (3, 12, 21, 15):
        del model[k]
    model[4] = (0, "again")
    snap = t._current_snapshot(t._load_meta())
    assert snap.get("delete_dirs") and snap.get("eq_deletes")
    assert snap.get("commit_filters") and t._load_meta()["column_tombstones"]

    def as_model(df):
        got = [(r["id"], (r["part"], r["tag"])) for r in df.collect()]
        assert len(got) == len({k for k, _ in got}), "duplicate ids"
        return dict(got)

    assert as_model(t.read()) == model
    coords = t.read_with_coords()
    assert {"__sg_file", "__sg_pos"} <= set(coords.columns)
    assert as_model(coords.drop("__sg_file", "__sg_pos")) == model
    t.fold_deletes()
    folded = t._current_snapshot(t._load_meta())
    assert not folded.get("eq_deletes") and len(folded["delete_dirs"]) == 1
    assert as_model(t.read()) == model
    assert as_model(t.read_with_coords().drop("__sg_file", "__sg_pos")) == model

    # copy-on-write split: back at the scoped-compaction snapshot (no
    # merge-on-read deletes outstanding), ids >= 20 live only in the third
    # append and the compacted dir, so the first two appends carry over
    t.rollback_to(scoped)
    before = t._current_snapshot(t._load_meta())
    want = t.read().filter("NOT (id >= 20)")
    want = sorted(tuple(r) for r in want.collect())
    t.delete_where("id >= 20")
    after = t._current_snapshot(t._load_meta())
    carried = [d for d in before["commit_dirs"] if d in after["commit_dirs"]]
    assert carried == before["commit_dirs"][:2]
    assert {d: after["commit_filters"][d] for d in carried} == {
        d: before["commit_filters"][d] for d in carried
    }
    assert sorted(tuple(r) for r in t.read().collect()) == want
    assert len(want) == 20


def test_delete_positions_takes_only_the_coordinate_columns(lake, spark):
    """delete_positions accepts the ``__sg_file``/``__sg_pos`` columns
    read_with_coords returns and nothing else: renamed coordinates raise
    before any delete dir is written or any snapshot committed."""
    t = _mk(lake, spark)
    live = t.read_with_coords(where="id = 3")
    renamed = live.select(
        F.col("__sg_file").alias("file_path"), F.col("__sg_pos").alias("pos")
    )
    head = t._load_meta()["current_snapshot_id"]
    data_dirs = sorted(os.listdir(os.path.join(t.path, "data")))
    with pytest.raises(ValueError, match="__sg_file"):
        t.delete_positions(renamed)
    assert t._load_meta()["current_snapshot_id"] == head
    assert sorted(os.listdir(os.path.join(t.path, "data"))) == data_dirs
    t.delete_positions(live)
    assert 3 not in {r.id for r in t.read().collect()}


# ------------------------------------------------------- DML job ceilings

def _big(lake, spark, name):
    """20,000 rows in 4 files clustered on ``id``."""
    t = lake.create_table(name, "id BIGINT, v STRING, g BIGINT")
    t.append(
        spark.range(20000).select(
            "id", F.concat(F.lit("v"), F.col("id")).alias("v"),
            (F.col("id") % 2).alias("g"),
        ).repartitionByRange(4, "id").sortWithinPartitions("id")
    )
    return t


def _src3(spark):
    """Two keys that match, one that inserts."""
    return spark.createDataFrame(
        [(5, "s5", 1), (6, "s6", 0), (30000, "new", 1)],
        "id BIGINT, v STRING, g BIGINT",
    )


_DML = {
    "delete_where": lambda t, m, spark: t.delete_where("id IN (5, 6, 7)", mode=m),
    "update_where": lambda t, m, spark: t.update_where(
        {"v": "'u'"}, "id IN (5, 6, 7)", mode=m
    ),
    "merge": lambda t, m, spark: t.merge(_src3(spark), "id", mode=m),
    "merge_into conditional": lambda t, m, spark: t.merge_into(
        _src3(spark), "t.id = s.id",
        matched=[("update", "s.g > 0", {"v": "s.v"})],
        not_matched=[(None, None, None)], mode=m,
    ),
    "merge_into NBS": lambda t, m, spark: t.merge_into(
        _src3(spark), "t.id = s.id",
        matched=[("update", None, "*")], not_matched=[(None, None, None)],
        not_matched_by_source=[
            ("delete", "t.id < 100", None),
            ("update", "t.id >= 19990", {"v": "'nbs'"}),
        ],
        mode=m,
    ),
}

# Jobs per statement on `_big` with the `_src3` source, measured at 2 and 4
# cores. Copy-on-write, and the upsert in both modes, are the counts from
# when `merge` and `merge_into` were separate bodies; the two general
# merges had no merge-on-read plan then and ran copy-on-write (12 and 10
# jobs), so their merge-on-read rows pin the first measured counts.
DML_JOBS = {
    ("delete_where", "copy-on-write"): 1,
    ("delete_where", "merge-on-read"): 1,
    ("update_where", "copy-on-write"): 1,
    ("update_where", "merge-on-read"): 3,
    ("merge", "copy-on-write"): 6,
    ("merge", "merge-on-read"): 7,
    ("merge_into conditional", "copy-on-write"): 12,
    ("merge_into conditional", "merge-on-read"): 11,
    ("merge_into NBS", "copy-on-write"): 10,
    ("merge_into NBS", "merge-on-read"): 9,
}


@pytest.mark.parametrize("stmt,mode", sorted(DML_JOBS))
def test_dml_job_ceilings(lake, spark, count_jobs, stmt, mode):
    """Every DML statement's jobs stay at or below its ceiling, and a
    merge-on-read statement writes one delete dir and keeps every data
    file."""
    lake.create_namespace("ns")
    t = _big(lake, spark, "ns.big")
    files = _data_files(t)
    n, _ = count_jobs(lambda: _DML[stmt](t, mode, spark))
    assert n <= DML_JOBS[(stmt, mode)]
    snap = t._current_snapshot(t._load_meta())
    if mode == "merge-on-read":
        assert len(snap["delete_dirs"]) == 1
        assert set(files) <= set(_data_files(t))
    else:
        assert not snap.get("delete_dirs")


# ------------------------------------- MERGE: merge-on-read == copy-on-write

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

_M_COND = st.sampled_from([None, "s.amt < 0", "s.amt > 100", "t.amt < 20"])
_NBS_COND = st.sampled_from([None, "t.amt < 20", "t.k % 2 = 0"])
_INS_COND = st.sampled_from([None, "s.amt >= 0", "s.amt > 100"])
_INS_COLS = (["k", "v", "amt"], ["s.k", "UPPER(s.v)", "s.amt"])
_matched_st = st.lists(
    st.one_of(
        st.tuples(
            st.just("update"), _M_COND,
            st.sampled_from(["*", {"v": "s.v"}, {"v": "s.v", "amt": "t.amt + s.amt"}]),
        ),
        st.tuples(st.just("delete"), _M_COND, st.none()),
    ),
    max_size=2,
)
_not_matched_st = st.lists(
    st.one_of(
        st.tuples(_INS_COND, st.none(), st.none()),
        st.tuples(_INS_COND, st.just(_INS_COLS[0]), st.just(_INS_COLS[1])),
    ),
    max_size=2,
)
_nbs_st = st.lists(
    st.one_of(
        st.tuples(st.just("update"), _NBS_COND, st.just({"v": "'orphan'"})),
        st.tuples(st.just("delete"), _NBS_COND, st.none()),
    ),
    max_size=2,
)
# unique source keys (MERGE cardinality); 40.. insert, 100.. lie outside
# every target file's key range; no amount is 0, so no update is a no-op
_source_st = st.dictionaries(
    st.sampled_from(list(range(0, 60, 3)) + [100, 101]),
    st.sampled_from([-5.0, 2.0, 7.0, 150.0]),
    max_size=6,
)
_UPSERT = ([("update", None, "*")], [(None, None, None)], [])


@given(_matched_st, _not_matched_st, _nbs_st, _source_st)
@example(*_UPSERT, {3: 2.0, 30: 150.0, 45: 7.0})
# the conditional MERGE of test_merge_into._MERGE_SQL
@example(
    [("delete", "s.amt < 0", None),
     ("update", "s.amt > 100", {"v": "s.v", "amt": "t.amt + s.amt"})],
    [("s.amt >= 0", *_INS_COLS)], [], {0: -5.0, 12: 150.0, 21: 2.0, 42: 7.0, 45: -5.0},
)
@example(
    [("update", None, "*")], [],
    [("update", "t.amt < 20", {"v": "'orphan'"}), ("delete", None, None)],
    {6: 7.0, 27: 150.0},
)
# matches and inserts nothing: a metadata-only snapshot
@example([("update", "s.amt > 100", "*")], [("s.amt > 100", None, None)], [],
         {9: 2.0, 48: 7.0})
# every source key outside every file's range: a fully pruned scan
@example(*_UPSERT, {100: 2.0, 101: 150.0})
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
def test_merge_on_read_equals_copy_on_write(spark, matched, not_matched, nbs, source):
    """The same MERGE on a copy-on-write copy and a merge-on-read copy
    (``write.merge.mode``) gives the same rows, for every clause family.
    The merge-on-read commit keeps every parent commit and delete dir,
    adds at most one of each, and leaves the parent snapshot's rows
    readable; a MERGE that changes no row commits no new dir at all."""
    import shutil
    import tempfile

    if not (matched or not_matched or nbs):
        matched = [("delete", None, None)]
    wh = tempfile.mkdtemp(prefix="mergeprop-")
    try:
        lake = Lakehouse(spark, wh)
        src = spark.createDataFrame(
            [(k, f"s{k}", a) for k, a in sorted(source.items())],
            "k BIGINT, v STRING, amt DOUBLE",
        )
        tables = {}
        for mode in ("copy-on-write", "merge-on-read"):
            t = lake.create_table(f"p.{mode[:3]}", "k BIGINT, v STRING, amt DOUBLE")
            t.append(
                spark.range(40).select(
                    F.col("id").alias("k"),
                    F.concat(F.lit("t"), F.col("id")).alias("v"),
                    (F.col("id") * 1.5 - 10).alias("amt"),
                ).repartitionByRange(4, "k")
            )
            # an outstanding position delete the merge must carry
            t.delete_where("k = 4", mode="merge-on-read")
            t.set_properties({"write.merge.mode": mode})
            tables[mode] = t
        mor = tables["merge-on-read"]
        parent = mor._current_snapshot(mor._load_meta())
        parent_rows = sorted(tuple(r) for r in mor.read().collect())
        dirs = sorted(os.listdir(os.path.join(mor.path, "data")))
        got = {}
        for mode, t in tables.items():
            t.merge_into(src, "t.k = s.k", matched, not_matched, nbs)
            got[mode] = sorted(tuple(r) for r in t.read().collect())
        assert got["merge-on-read"] == got["copy-on-write"]

        snap = mor._current_snapshot(mor._load_meta())
        assert snap["operation"] == "merge"
        for key in ("commit_dirs", "delete_dirs"):
            assert snap[key][: len(parent[key])] == parent[key]
            assert len(snap[key]) - len(parent[key]) <= 1
        assert sorted(
            tuple(r) for r in mor.read(snapshot_id=parent["id"]).collect()
        ) == parent_rows
        if got["merge-on-read"] == parent_rows:
            assert sorted(os.listdir(os.path.join(mor.path, "data"))) == dirs
    finally:
        shutil.rmtree(wh, ignore_errors=True)
