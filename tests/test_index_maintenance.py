"""The one refresh path of the persisted text and ANN indexes
(operators/_maint.py): its Spark job ceilings per refresh shape, and a
persisted layout that does not depend on the session's core count."""

import json
import os
import subprocess
import sys

from apache_iceberg_lakehouse_workshop_spark.operators import ann_index as AX
from apache_iceberg_lakehouse_workshop_spark.operators import text_index as TX
from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
from apache_iceberg_lakehouse_workshop_spark.tables import load_table

KW = dict(dim=64, m_sub=4, k_codes=16, n_cells=16)

# Jobs of one refresh per shape, measured at 2, 4 and 8 cores on sf0.001:
# a 200-doc / 300-vector base, an append of 20 docs / 50 vectors, then a
# delete of 2 ids. Before the single refresh path the same shapes ran
# 18 / 8 / 21 / 21 jobs, and 16 / 9 / 19 / 17 before one-range index
# writes coalesced instead of shuffling.
REFRESH_JOB_CEILINGS = {
    "text append": 14,
    "ann append": 8,
    "text delete": 18,
    "ann delete": 17,
}


def test_refresh_job_ceilings(spark, sf_dir, tmp_path, count_jobs):
    """Each refresh shape stays within its job ceiling and takes the
    mode it names: an append-only range is `incremental`, a delete
    range `cdc` — one feed read, one summary aggregate, and a collision
    probe that plans no job when the insert id range misses every
    membership file."""
    lake = Lakehouse(spark, str(tmp_path / "wh"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lake.create_table_as("t.docs", docs.filter("doc_id < 200"))
    TX.build_text_index(lake, "t.docs", "t.idx")
    lake.create_table_as("a.v", emb.filter("vec_id < 300"))
    AX.build_ann_index(lake, "a.v", "a.idx", **KW)
    got = {}
    lake.table("t.docs").append(docs.filter("doc_id >= 200 AND doc_id < 220"))
    got["text append"] = count_jobs(lambda: TX.refresh_text_index(lake, "t.idx"))
    lake.table("a.v").append(emb.filter("vec_id >= 300 AND vec_id < 350"))
    got["ann append"] = count_jobs(lambda: AX.refresh_ann_index(lake, "a.idx"))
    lake.table("t.docs").delete_where("doc_id IN (3, 7)")
    got["text delete"] = count_jobs(lambda: TX.refresh_text_index(lake, "t.idx"))
    lake.table("a.v").delete_where("vec_id IN (3, 7)")
    got["ann delete"] = count_jobs(lambda: AX.refresh_ann_index(lake, "a.idx"))
    modes = {k: out["mode"] for k, (_n, out) in got.items()}
    assert modes == {
        "text append": "incremental", "ann append": "incremental",
        "text delete": "cdc", "ann delete": "cdc",
    }
    jobs = {k: n for k, (n, _out) in got.items()}
    over = {k: (n, REFRESH_JOB_CEILINGS[k]) for k, n in jobs.items()
            if n > REFRESH_JOB_CEILINGS[k]}
    assert not over, f"jobs over ceiling (got, ceiling): {over}"


_INDEX_TABLES = ("t.idx_postings", "t.idx_doclen", "t.idx_stats", "a.idx_codes", "a.idx_ids")


def _file_counts(spark, sf_dir, wh: str) -> tuple[dict, dict]:
    """Per-table file counts after a build over ids < 450 and again after
    appending the remaining 50 docs / vectors and refreshing both indexes."""
    lake = Lakehouse(spark, wh)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lake.create_table_as("t.docs", docs.filter("doc_id < 450"))
    TX.build_text_index(lake, "t.docs", "t.idx")
    lake.create_table_as("a.v", emb.filter("vec_id < 450"))
    AX.build_ann_index(lake, "a.v", "a.idx", **KW)

    def counts():
        return {t: len(set(lake.table(t).read().inputFiles())) for t in _INDEX_TABLES}

    built = counts()
    lake.table("t.docs").append(docs.filter("doc_id >= 450"))
    lake.table("a.v").append(emb.filter("vec_id >= 450"))
    assert TX.refresh_text_index(lake, "t.idx")["mode"] == "incremental"
    assert AX.refresh_ann_index(lake, "a.idx")["mode"] == "incremental"
    return built, counts()


# Builds and refreshes both indexes in a fresh session at the given master
# and prints the per-table file counts as JSON.
_COUNTS_MAIN = """
import json, sys
sys.path[:0] = [sys.argv[1], sys.argv[2]]
from apache_iceberg_lakehouse_workshop_spark.session import get_spark
from test_index_maintenance import _file_counts
spark = get_spark("index-layout", master=sys.argv[3])
print(json.dumps(_file_counts(spark, sys.argv[4], sys.argv[5])))
"""


def test_index_layout_ignores_core_count(sf_dir, tmp_path):
    """The clustered index tables are written with the same number of
    files whatever the session's core count — at build and in a refresh's
    delta append — so serve pruning does not depend on the box that built
    or refreshed the index. Each core count runs in a fresh session of
    its own, so everything sized from the real parallelism (AQE's
    partition coalescing included) is part of the comparison. The codes
    table keeps at least one file range per probed cell."""
    here = os.path.dirname(os.path.abspath(__file__))
    counts = []
    for cores in (2, 8):
        out = subprocess.run(
            [sys.executable, "-c", _COUNTS_MAIN, os.path.dirname(here), here,
             f"local[{cores}]", sf_dir, str(tmp_path / f"wh{cores}")],
            capture_output=True, text=True, timeout=900,
        )
        assert out.returncode == 0, out.stderr[-4000:]
        counts.append(json.loads(out.stdout.strip().splitlines()[-1]))
    assert counts[0] == counts[1], counts
    built, refreshed = counts[0]
    assert built["a.idx_codes"] >= KW["n_cells"] // 2
    assert built["t.idx_postings"] > 1
    # a delta under 65,536 rows appends one file per table
    assert {t: refreshed[t] - built[t] for t in _INDEX_TABLES} == dict.fromkeys(_INDEX_TABLES, 1)
