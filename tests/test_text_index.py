"""Persisted BM25 inverted index (operators/text_index.py): postings +
doclen as lakehouse tables, term-pruned query path, O(delta) refresh —
the lexical twin of the persisted ANN index."""

import pytest
from pyspark.sql import functions as F

from apache_iceberg_lakehouse_workshop_spark.operators import text_index as TX
from apache_iceberg_lakehouse_workshop_spark.operators import textstats as TS
from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
from apache_iceberg_lakehouse_workshop_spark.tables import load_table

TERMS = ["spark", "vector", "stream"]


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def _ranked(df):
    return [(r.rank, r.doc_id, r.score_q6) for r in df.collect()]


def test_persisted_query_equals_one_shot(spark, sf_dir, lake):
    """bm25_query over the persisted index == bm25_topk over the same
    corpus, row-for-row (same tokens, counts, idf doubles, quantization,
    tie-breaks)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs)
    info = TX.build_text_index(lake, "tx.docs", "tx.idx")
    assert info["n_postings"] > 0
    got = TX.bm25_query(lake, "tx.idx", TERMS, n=20)
    want = TS.bm25_topk(docs, TERMS, n=20)
    assert _ranked(got) == _ranked(want)
    # unknown-only terms: empty ranking, no error
    assert TX.bm25_query(lake, "tx.idx", ["zzzzqqqq"], n=5).count() == 0


def test_incremental_refresh_appends_only_the_delta(spark, sf_dir, lake):
    """Append-only refresh tokenizes only the new docs; the served
    ranking equals a from-scratch one-shot over the grown corpus (BM25
    stats are recomputed per query from the persisted tables, so
    corpus-stats drift is impossible)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    lake.create_table_as("tx.docs", old)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    n_post0 = lake.table("tx.idx_postings").read().count()
    lake.table("tx.docs").append(new)
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "incremental" and out["n_docs"] == new.count()
    delta_postings = (
        lake.table("tx.idx_postings").read().count() - n_post0
    )
    assert delta_postings > 0
    assert TX.refresh_text_index(lake, "tx.idx")["mode"] == "noop"
    got = TX.bm25_query(lake, "tx.idx", TERMS, n=20)
    want = TS.bm25_topk(docs, TERMS, n=20)
    assert _ranked(got) == _ranked(want)


def test_rewritten_history_serves_cdc_deletes(spark, sf_dir, lake):
    """r11: a delete on the source is consumed as a TYPED change feed —
    O(diff) + position deletes on the postings, NO re-tokenize — and the
    ranking matches a one-shot over the surviving corpus (deleted docs
    are gone from tf, df, N and avgdl alike)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    lake.table("tx.docs").delete_where("doc_id % 2 = 0")
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "cdc" and out["n_deleted"] > 0 and out["n_docs"] == 0
    survivors = docs.filter(F.col("doc_id") % 2 != 0)
    got = TX.bm25_query(lake, "tx.idx", TERMS, n=20)
    want = TS.bm25_topk(survivors, TERMS, n=20)
    assert _ranked(got) == _ranked(want)
    assert TX.refresh_text_index(lake, "tx.idx")["mode"] == "noop"


def test_cdc_update_and_mixed_delta(spark, sf_dir, lake):
    """r11 CDC refresh, the mixed case: one UPDATE (delete+insert of the
    same doc_id) plus fresh appends land in one rewritten-history range;
    the index absorbs both sides O(delta) and every BM25 statistic (tf,
    df, N, avgdl) matches a from-scratch one-shot over the final corpus.
    A second source rewrite too large for the CDC path still falls back
    to the full re-tokenize."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    lake.create_table_as("tx.docs", old)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    # UPDATE doc 1's text + append the %3==0 docs in the same range
    lake.table("tx.docs").update_where(
        {"text": "'spark spark stream vector boost'"}, "doc_id = 1"
    )
    lake.table("tx.docs").append(docs.filter(F.col("doc_id") % 3 == 0))
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "cdc"
    assert out["n_deleted"] >= 1 and out["n_docs"] >= 1
    got = TX.bm25_query(lake, "tx.idx", TERMS, n=20)
    want = TS.bm25_topk(lake.table("tx.docs").read(), TERMS, n=20)
    assert _ranked(got) == _ranked(want)
    # oversized delete set: cdc declines, the rebuild path still covers
    lake.table("tx.docs").delete_where("doc_id % 2 = 0")
    out = TX.refresh_text_index(lake, "tx.idx", )
    assert out["mode"] in ("cdc", "retokenize")
    got = TX.bm25_query(lake, "tx.idx", TERMS, n=20)
    want = TS.bm25_topk(lake.table("tx.docs").read(), TERMS, n=20)
    assert _ranked(got) == _ranked(want)


def test_recluster_after_incremental_appends(spark, sf_dir, lake):
    """Accumulated delta postings (un-clustered, full-term-range files)
    re-cluster after recluster_after appends: the compact(sort_by=w)
    restores tight per-file term ranges and the ranking is unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs.filter(F.col("doc_id") < 50))
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    for i in range(3):
        lake.table("tx.docs").append(
            docs.filter(
                (F.col("doc_id") >= 50 + i * 20)
                & (F.col("doc_id") < 50 + (i + 1) * 20)
            )
        )
        out = TX.refresh_text_index(lake, "tx.idx", recluster_after=2)
        assert out["mode"] == "incremental"
    post_t = lake.table("tx.idx_postings")
    ops = [s["operation"] for s in post_t._load_meta()["snapshots"]]
    assert "compact" in ops, ops
    got = _ranked(TX.bm25_query(lake, "tx.idx", TERMS, n=10))
    want = _ranked(
        TS.bm25_topk(docs.filter(F.col("doc_id") < 110), TERMS, n=10)
    )
    assert got == want


def test_text_index_status(spark, sf_dir, lake):
    """text_index_status reports freshness vs the source snapshot."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs.limit(100))
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    assert TX.text_index_status(lake, "tx.idx")["fresh"]
    lake.table("tx.docs").append(docs.limit(10))
    st = TX.text_index_status(lake, "tx.idx")
    assert not st["fresh"]
    TX.refresh_text_index(lake, "tx.idx")
    assert TX.text_index_status(lake, "tx.idx")["fresh"]


def test_duplicate_doc_id_append_retokenizes(spark, lake, caplog):
    """A re-appended doc_id routes refresh to the full re-tokenize: the
    one-shot groupBy merges the split (w, doc_id) postings (BM25's tf
    saturation is nonlinear, so two postings rows for one key are NOT the
    merged row) and doclen keeps one row per doc. Pins the r9 verdict's
    sequence: append(doc 3) → refresh → append(doc 3 again) → refresh →
    index == one-shot."""
    words = ["spark", "vector", "stream", "delta", "row"]
    rows = [(i, " ".join(words[: i % 5 + 1])) for i in range(6)]
    src = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    lake.create_table_as("tx.docs", src)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    t = lake.table("tx.docs")
    for extra_text in ("spark spark delta", "vector row"):
        t.append(
            spark.createDataFrame(
                [(3, extra_text)], "doc_id BIGINT, text STRING"
            )
        )
        caplog.clear()
        out = TX.refresh_text_index(lake, "tx.idx")
        assert out["mode"] == "retokenize", out
        assert out["reason"] == "an inserted id is already indexed", out
        # the decline logs once, with its reason
        logged = [r.getMessage() for r in caplog.records if "declined" in r.getMessage()]
        assert len(logged) == 1 and out["reason"] in logged[0], logged
        got = _ranked(TX.bm25_query(lake, "tx.idx", ["spark", "delta"], n=10))
        want = _ranked(TS.bm25_topk(t.read(), ["spark", "delta"], n=10))
        assert got == want
    # merged, never split: one doclen row per doc_id, one postings row
    # per (w, doc_id)
    doclen = lake.table("tx.idx_doclen").read()
    assert doclen.count() == doclen.select("doc_id").distinct().count()
    post = lake.table("tx.idx_postings").read()
    assert post.count() == post.select("w", "doc_id").distinct().count()


def test_crashed_half_refresh_recovers(spark, lake):
    """Crash-window recovery: refresh commits the doclen delta first and
    the postings delta second (watermark riding the postings commit). A
    crash between the two leaves the delta's ids in doclen with a stale
    watermark — the retried refresh must detect the collision and take
    the full rebuild, leaving zero duplicate rows."""
    words = ["spark", "vector", "stream", "delta", "row"]
    rows = [(i, " ".join(words[: i % 5 + 1])) for i in range(6)]
    lake.create_table_as(
        "tx.docs", spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    )
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    t = lake.table("tx.docs")
    delta = spark.createDataFrame(
        [(100, "spark delta delta"), (101, "row stream")],
        "doc_id BIGINT, text STRING",
    )
    t.append(delta)
    # simulate the crash: apply ONLY the first half of the refresh (the
    # doclen append); the watermark property stays at the build snapshot
    half = TX._doclen_of(TX._postings_of(delta, "doc_id", "text"))
    lake.table("tx.idx_doclen").append(half)
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "retokenize", out
    got = _ranked(TX.bm25_query(lake, "tx.idx", ["spark", "delta"], n=10))
    want = _ranked(TS.bm25_topk(t.read(), ["spark", "delta"], n=10))
    assert got == want
    doclen = lake.table("tx.idx_doclen").read()
    assert doclen.count() == doclen.select("doc_id").distinct().count()
    assert TX.refresh_text_index(lake, "tx.idx")["mode"] == "noop"


def test_crashed_update_refresh_recovers(spark, lake, monkeypatch):
    """A refresh of an UPDATE that crashed after its doclen delta (the
    updated doc's new length landed in doclen, the postings commit and
    the watermark did not) must not pass the retry's deleted-id check on
    the NEW doclen row: its (N, Σdl) adjustment would subtract the new
    length instead of the old one. The retry declines to the rebuild and
    the ranking equals the one-shot."""
    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable

    words = ["spark", "vector", "stream", "delta", "row"]
    rows = [(i, " ".join(words[: i % 5 + 1])) for i in range(6)]
    lake.create_table_as(
        "tx.docs", spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    )
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    t = lake.table("tx.docs")
    t.update_where({"text": "'spark spark spark spark delta'"}, "doc_id = 1")
    real_append = LakeTable.append

    def crash_on_postings(self, df, *a, **kw):
        if self.name.endswith("idx_postings"):
            raise RuntimeError("crash before the postings commit")
        return real_append(self, df, *a, **kw)

    monkeypatch.setattr(LakeTable, "append", crash_on_postings)
    with pytest.raises(RuntimeError, match="crash before"):
        TX.refresh_text_index(lake, "tx.idx")
    monkeypatch.undo()
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "retokenize", out
    assert out["reason"] == "an interrupted refresh left a partial commit", out
    got = _ranked(TX.bm25_query(lake, "tx.idx", ["spark", "delta"], n=10))
    want = _ranked(TS.bm25_topk(t.read(), ["spark", "delta"], n=10))
    assert got == want


def test_refresh_watermark_rides_the_postings_commit(spark, lake):
    """The source-snapshot watermark lands in the SAME atomic commit as
    the postings append — no property-only write a crash could separate
    (advisor r9: non-atomic refresh duplicated tf/df on retry)."""
    words = ["spark", "vector", "stream"]
    rows = [(i, words[i % 3]) for i in range(4)]
    lake.create_table_as(
        "tx.docs", spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    )
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    t = lake.table("tx.docs")
    t.append(
        spark.createDataFrame([(50, "vector spark")], "doc_id BIGINT, text STRING")
    )
    post_t = lake.table("tx.idx_postings")
    before = post_t._load_meta()
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "incremental"
    after = post_t._load_meta()
    # exactly one new snapshot on postings, and the watermark moved in it
    assert len(after["snapshots"]) == len(before["snapshots"]) + 1
    assert after["properties"]["text.source-snapshot-id"] == str(
        t._load_meta()["current_snapshot_id"]
    )


def test_index_matches_one_shot_under_random_dml(spark, tmp_path):
    """Model-based invariant (the CDC suite's idiom applied to the text
    index): for ANY interleaving of appends / deletes / upserts / refresh
    calls, a final refresh_text_index leaves bm25_query EXACTLY equal to
    the one-shot bm25_topk over the source's current rows — the index can
    lag mid-sequence but never diverges (stats are recomputed per query
    from the persisted tables, so there is no drift channel)."""
    import shutil
    import tempfile

    from hypothesis import HealthCheck, example, given, settings
    from hypothesis import strategies as st

    docvals = st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 4)),
        min_size=1, max_size=4,
    )
    ops_st = st.lists(
        st.one_of(
            st.tuples(st.just("append"), docvals),
            # append that REUSES an initial id (0..9): split (w, doc_id)
            # postings would silently diverge (BM25 tf saturation is
            # nonlinear) — the collision check must route to retokenize
            st.tuples(
                st.just("append_dup"),
                st.tuples(st.integers(0, 9), st.integers(0, 4)),
            ),
            st.tuples(st.just("delete"), st.integers(0, 9)),
            st.tuples(st.just("upsert"), docvals),
            st.tuples(st.just("refresh"), st.none()),
            # a refresh that crashed after its FIRST commit (doclen delta
            # landed, postings + watermark did not) — the retried refresh
            # must detect the half-applied state and recover exactly
            st.tuples(st.just("crash_refresh"), st.none()),
        ),
        min_size=1, max_size=5,
    )
    words = ["spark", "vector", "stream", "delta", "row"]

    def text_of(x):
        return " ".join(words[: x + 1] * (x + 1))

    @given(ops_st)
    # a duplicated id netting to one delete with no insert: the index must
    # keep the source's remaining row of id 0, not drop every row of it
    @example([("crash_refresh", None), ("append_dup", (0, 0)),
              ("refresh", None), ("upsert", [(0, 0)])])
    @settings(max_examples=6, deadline=None,
              suppress_health_check=[HealthCheck.too_slow])
    def run(ops):
        wh = tempfile.mkdtemp(prefix="txprop-")
        try:
            lk = Lakehouse(spark, wh)
            src = lk.create_table("p.docs", "doc_id BIGINT, text STRING")
            src.append(
                spark.createDataFrame(
                    [(i, text_of(i % 5)) for i in range(6)],
                    "doc_id BIGINT, text STRING",
                )
            )
            TX.build_text_index(lk, "p.docs", "p.idx")
            next_id = 100
            for op, arg in ops:
                if op == "append":
                    rows = [(next_id + j, text_of(x)) for j, (_k, x) in enumerate(arg)]
                    next_id += len(arg)
                    src.append(
                        spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
                    )
                elif op == "append_dup":
                    k, x = arg
                    src.append(
                        spark.createDataFrame(
                            [(k, text_of(x))], "doc_id BIGINT, text STRING"
                        )
                    )
                elif op == "delete":
                    src.delete_where(f"doc_id % 10 = {arg}")
                elif op == "upsert":
                    rows = [(k, text_of(x)) for k, x in dict(arg).items()]
                    src.upsert_equality(
                        spark.createDataFrame(rows, "doc_id BIGINT, text STRING"),
                        "doc_id",
                    )
                elif op == "crash_refresh":
                    # replay refresh's first half only: the doclen delta
                    # commit (refresh orders doclen first by design)
                    props = lk.table("p.idx_postings").properties()
                    last = int(props["text.source-snapshot-id"])
                    cur = src._load_meta().get("current_snapshot_id")
                    if cur is not None and cur != last:
                        try:
                            delta = src.read_incremental(last, cur)
                        except ValueError:
                            delta = None
                        if delta is not None and delta.count():
                            p = TX._postings_of(delta, "doc_id", "text")
                            lk.table("p.idx_doclen").append(TX._doclen_of(p))
                else:
                    TX.refresh_text_index(lk, "p.idx")
            TX.refresh_text_index(lk, "p.idx")
            got = _ranked(TX.bm25_query(lk, "p.idx", ["spark", "delta"], n=10))
            want = _ranked(TS.bm25_topk(src.read(), ["spark", "delta"], n=10))
            assert got == want, ops
        finally:
            shutil.rmtree(wh, ignore_errors=True)

    run()


def test_stream_maintain_text_index(spark, sf_dir, lake, tmp_path):
    """stream_maintain_index(kind='text'): each micro-batch appends docs
    to the source and re-tokenizes only the delta; the served ranking
    equals a one-shot over the full corpus afterwards."""
    import json

    from apache_iceberg_lakehouse_workshop_spark.streaming.pipeline import (
        stream_maintain_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0).limit(100)
    rest_rows = [
        {"doc_id": r.doc_id, "text": r.text}
        for r in docs.filter(F.col("doc_id") % 2 == 1).limit(40).collect()
    ]
    lake.create_table_as("tx.docs", base)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    feed = tmp_path / "feed"
    feed.mkdir()
    half = len(rest_rows) // 2
    for i, chunk in enumerate((rest_rows[:half], rest_rows[half:])):
        (feed / f"b{i}.json").write_text(
            "\n".join(json.dumps(x) for x in chunk)
        )
    stream = spark.readStream.schema("doc_id LONG, text STRING").option(
        "maxFilesPerTrigger", 1
    ).json(str(feed))
    q = stream_maintain_index(
        stream, lake, lake.table("tx.docs"), "tx.idx",
        str(tmp_path / "ck"), kind="text",
    )
    q.awaitTermination(120)
    assert TX.text_index_status(lake, "tx.idx")["fresh"]
    got = _ranked(TX.bm25_query(lake, "tx.idx", TERMS, n=10))
    want = _ranked(TS.bm25_topk(lake.table("tx.docs").read(), TERMS, n=10))
    assert got == want


def test_postings_scan_is_file_pruned(spark, sf_dir, lake):
    """The term predicate prunes postings files via min/max stats on the
    range-clustered sorted term column — the query never plans the whole
    postings table."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    t = lake.table("tx.idx_postings")
    total = len(t.read().inputFiles())
    pruned = len(t.read(where="w IN ('spark')").inputFiles())
    assert total > 1, "need a multi-file postings table to prove pruning"
    assert pruned < total, (pruned, total)


def test_term_stats_served_driver_side(spark, sf_dir, lake):
    """r11 one-job serve: the stats table exists, is snapshot-stamped to
    the postings watermark, and _driver_term_stats returns exactly the
    per-term df the postings would aggregate — including summed partial
    rows after an incremental refresh."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    lake.create_table_as("tx.docs", old)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    lake.table("tx.docs").append(new)
    assert TX.refresh_text_index(lake, "tx.idx")["mode"] == "incremental"
    post_t = lake.table("tx.idx_postings")
    props = post_t.properties()
    terms = sorted(TERMS)
    in_list = ", ".join(f"'{t}'" for t in terms)
    got = TX._driver_term_stats(lake, "tx.idx", terms, props, in_list)
    assert got is not None, "stats table should be fresh after refresh"
    want = {
        r.w: float(r.c)
        for r in post_t.read(where=f"w IN ({in_list})")
        .groupBy("w")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert got == want
    # partial rows really exist (build row + delta row per hot term)
    st = lake.table("tx.idx_stats").read()
    assert st.filter(F.col("w") == terms[0]).count() >= 2


def test_stale_stats_falls_back_and_repairs(spark, sf_dir, lake):
    """A crash between the postings commit and the stats rewrite leaves
    the stats stamp behind the watermark: serve must route around it
    (identical ranking via the in-query df job) and the next refresh
    heals the stats table without touching the corpus."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    # simulate the crash window: stats stamp no longer matches
    lake.table("tx.idx_stats").set_properties(
        {"text.stats-source-snapshot-id": "-999"}
    )
    terms = sorted(TERMS)
    in_list = ", ".join(f"'{t}'" for t in terms)
    assert (
        TX._driver_term_stats(
            lake, "tx.idx", terms, lake.table("tx.idx_postings").properties(),
            in_list,
        )
        is None
    )
    got = TX.bm25_query(lake, "tx.idx", TERMS, n=20)
    want = TS.bm25_topk(docs, TERMS, n=20)
    assert _ranked(got) == _ranked(want)
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "stats_repair"
    assert (
        TX._driver_term_stats(
            lake, "tx.idx", terms, lake.table("tx.idx_postings").properties(),
            in_list,
        )
        is not None
    )
    assert TX.refresh_text_index(lake, "tx.idx")["mode"] == "noop"


def test_postings_carry_dl_and_serve_skips_doclen_join(spark, sf_dir, lake):
    """r11 layout: every posting row carries its doc's dl (constant per
    doc_id and equal to the doclen table), and the serve plan contains no
    join — the scoring job is the pruned scan alone."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    post = lake.table("tx.idx_postings").read()
    assert "dl" in post.columns
    mismatch = (
        post.join(
            lake.table("tx.idx_doclen").read().withColumnRenamed("dl", "dl2"),
            "doc_id",
        )
        .filter(F.col("dl") != F.col("dl2"))
        .count()
    )
    assert mismatch == 0
    plan = TX.bm25_query(lake, "tx.idx", TERMS, n=5)._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan


def test_empty_delta_restamps_stats_one_job_serve_stays(spark, sf_dir, lake):
    """r12 (ADVICE): an EMPTY incremental delta (snapshot advanced, zero
    rows — e.g. an empty append) advances the postings watermark AND
    restamps the stats table, so the one-job serve stays engaged instead
    of silently dropping to the two-job fallback until the next refresh;
    a stats table that was ALREADY stale stays stale for the repair
    path."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs.limit(50))
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    t = lake.table("tx.docs")
    t.append(docs.limit(0))  # snapshot advances, delta is empty
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "incremental" and out["n_docs"] == 0
    props = lake.table("tx.idx_postings").properties()
    assert (
        lake.table("tx.idx_stats").properties()["text.stats-source-snapshot-id"]
        == props["text.source-snapshot-id"]
    )
    terms = sorted(TERMS)
    in_list = ", ".join(f"'{x}'" for x in terms)
    assert TX._driver_term_stats(lake, "tx.idx", terms, props, in_list) is not None

    # already-stale stats are NOT blessed by an empty delta
    lake.table("tx.idx_stats").set_properties(
        {"text.stats-source-snapshot-id": "-999"}
    )
    t.append(docs.limit(0))
    assert TX.refresh_text_index(lake, "tx.idx")["n_docs"] == 0
    assert (
        lake.table("tx.idx_stats").properties()["text.stats-source-snapshot-id"]
        == "-999"
    )
    # ...and the NEXT refresh's repair path heals them
    assert TX.refresh_text_index(lake, "tx.idx")["mode"] == "stats_repair"
    props = lake.table("tx.idx_postings").properties()
    assert TX._driver_term_stats(lake, "tx.idx", terms, props, in_list) is not None


def test_driver_term_stats_degrades_on_unreadable_files(spark, sf_dir, lake, monkeypatch):
    """r12 (ADVICE): a stats read the driver-side pyarrow path cannot
    handle (non-posix URI, decode failure) returns None — serve falls
    back to the always-correct in-query df job — instead of raising."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs.limit(50))
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    props = lake.table("tx.idx_postings").properties()
    terms = sorted(TERMS)
    in_list = ", ".join(f"'{x}'" for x in terms)

    import pyarrow.dataset as ds

    def boom(*a, **k):
        raise OSError("s3://bucket/path is not a local file")

    monkeypatch.setattr(ds, "dataset", boom)
    assert TX._driver_term_stats(lake, "tx.idx", terms, props, in_list) is None
    # end to end: bm25_query still answers (two-job fallback)
    got = TX.bm25_query(lake, "tx.idx", TERMS, n=10)
    want = TS.bm25_topk(docs.limit(50), TERMS, n=10)
    assert _ranked(got) == _ranked(want)


def test_cdc_stats_delta_is_o_diff(spark, sf_dir, lake):
    """r12: the CDC refresh maintains the per-term stats table with ONE
    O(delta-vocab) APPEND — negative partial df rows tokenized from the
    feed's delete pre-images plus positive rows for the inserts — never
    the O(postings-vocab) rebuild. The summed partials equal the exact
    df over the live postings, and the one-job serve stays engaged and
    bit-identical to the one-shot."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    st = lake.table("tx.idx_stats")
    n_snaps0 = len(st._load_meta()["snapshots"])
    # an UPDATE (delete+insert of doc 1) and a DELETE land in one range
    lake.table("tx.docs").update_where(
        {"text": "'vector vector spark boost'"}, "doc_id = 1"
    )
    lake.table("tx.docs").delete_where("doc_id % 7 = 0")
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "cdc" and out["n_deleted"] > 0 and out["n_docs"] > 0
    snaps = st._load_meta()["snapshots"]
    assert len(snaps) == n_snaps0 + 1, "exactly one stats commit per refresh"
    assert snaps[-1]["operation"] == "append", "O(diff) delta, not a rebuild"
    # summed partials (positives + negatives) == exact df of live postings
    want = {
        r.w: r.df
        for r in lake.table("tx.idx_postings")
        .read()
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("df"))
        .collect()
    }
    got = {
        r.w: r.df
        for r in st.read().groupBy("w").agg(F.sum("df").alias("df")).collect()
        if r.df != 0
    }
    assert got == want
    # one-job serve still engaged (fresh stamp) and exact
    props = lake.table("tx.idx_postings").properties()
    terms = sorted(TERMS)
    in_list = ", ".join(f"'{x}'" for x in terms)
    assert TX._driver_term_stats(lake, "tx.idx", terms, props, in_list) is not None
    got_rank = TX.bm25_query(lake, "tx.idx", TERMS, n=20)
    want_rank = TS.bm25_topk(lake.table("tx.docs").read(), TERMS, n=20)
    assert _ranked(got_rank) == _ranked(want_rank)


def test_cdc_stats_survive_a_corrupted_preimage_feed(
    spark, sf_dir, lake, monkeypatch
):
    """A delete pre-image whose text does not tokenize to what was
    indexed (a corrupted/buggy feed) must not poison ANYTHING: the
    negative stats partials count the deleted docs' INDEXED rows (never
    the feed payload), so the stats delta stays an exact O(diff) APPEND;
    the corruption only costs the term-pruned delete predicate (the
    corrupted-vocab slice fails its completeness proof, so the delete
    falls back to the plain doc_id read) — serve stays bit-exact."""
    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    real_rc = LakeTable.read_changes

    def corrupted(self, *a, **kw):
        out = real_rc(self, *a, **kw)
        return out.withColumn(
            "text",
            F.when(
                F.col("_change_type") == "delete", F.lit("zzz corrupted zzz")
            ).otherwise(F.col("text")),
        )

    monkeypatch.setattr(LakeTable, "read_changes", corrupted)
    reads = []
    real_rwc = LakeTable.read_with_coords

    def spy_read(self, where=None):
        reads.append((self.name, where))
        return real_rwc(self, where)

    monkeypatch.setattr(LakeTable, "read_with_coords", spy_read)
    lake.table("tx.docs").delete_where("doc_id % 5 = 0")
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "cdc" and out["n_deleted"] > 0
    # pruning declined (corrupted vocab never drives the delete): the
    # corrupted-vocab slice failed its completeness proof, so the row set
    # the delete consumed came from the PLAIN doc_id read (r14: the proof
    # scan's coordinates drive delete_positions directly)
    post_reads = [c for n, c in reads if n.endswith("idx_postings")]
    assert post_reads and post_reads[-1].startswith("doc_id IN (")
    assert post_reads[0].startswith("w IN ("), "pruned attempt ran first"
    # ... but the stats delta still landed as an exact O(diff) append
    st = lake.table("tx.idx_stats")
    assert st._load_meta()["snapshots"][-1]["operation"] == "append"
    want = {
        r.w: r.df
        for r in lake.table("tx.idx_postings")
        .read()
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("df"))
        .collect()
    }
    got = {
        r.w: r.df
        for r in st.read().groupBy("w").agg(F.sum("df").alias("df")).collect()
        if r.df != 0
    }
    assert got == want
    got_rank = TX.bm25_query(lake, "tx.idx", TERMS, n=20)
    want_rank = TS.bm25_topk(lake.table("tx.docs").read(), TERMS, n=20)
    assert _ranked(got_rank) == _ranked(want_rank)


def test_cdc_postings_delete_scan_prunes_by_terms(spark, lake, monkeypatch):
    """r12: the CDC postings delete conjoins the verified pre-images'
    vocabulary (`w IN (...)`) to the doc_id predicate, so the
    merge-on-read coordinate scan prunes to the deleted docs' term-range
    files instead of scanning the whole term-clustered index — exact,
    because every posting row of a deleted doc carries a term from its
    own (guard-verified) text."""
    import string

    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable

    rows = [
        (i, " ".join(f"{string.ascii_lowercase[i % 26]}word{j}" for j in range(5)))
        for i in range(260)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    post_t = lake.table("tx.idx_postings")
    total = len(set(post_t.read().inputFiles()))
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
    lake.table("tx.docs").delete_where("doc_id = 142")  # band 'm'
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "cdc" and out["n_deleted"] == 1
    # r14: the term-pruned proof read's coordinates drive the delete
    # directly (delete_positions) — ONE pruned scan, no second
    # delete_where pass over the postings
    post_reads = [c for n, c in reads if n.endswith("idx_postings")]
    assert len(post_reads) == 1 and post_reads[0].startswith("w IN (")
    assert not [c for n, c in dw_conds if n.endswith("idx_postings")]
    pruned = len(set(post_t.read(where=post_reads[0]).inputFiles()))
    assert 0 < pruned < total
    # the delete was exact: the doc is gone, serve == one-shot
    assert post_t.read().filter("doc_id = 142").count() == 0
    got = TX.bm25_query(lake, "tx.idx", ["mword0", "aword1"], n=10)
    want = TS.bm25_topk(
        lake.table("tx.docs").read(), ["mword0", "aword1"], n=10
    )
    assert _ranked(got) == _ranked(want)


def test_cdc_heavy_workload_hits_recluster_cadence(spark, lake):
    """r12: layout maintenance runs after EVERY refresh mode — a stream
    of small CDC deletes (no appends at all) still triggers the
    recluster compaction, materializing the accumulated merge-on-read
    delete files away and REBUILDING the stats table (merging the
    accumulated positive/negative partials exactly); serve stays exact
    throughout."""
    rows = [(i, f"alpha beta gamma doc{i} token{i % 7}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    post_t = lake.table("tx.idx_postings")
    for i in range(5):
        lake.table("tx.docs").delete_where(f"doc_id = {i}")
        out = TX.refresh_text_index(lake, "tx.idx", recluster_after=3)
        assert out["mode"] == "cdc" and out["n_deleted"] == 1
    ops = [s["operation"] for s in post_t._load_meta()["snapshots"]]
    assert "compact" in ops, f"cadence never hit: {ops}"
    snap = post_t._current_snapshot(post_t._load_meta())
    # the compact materialized every delete file accumulated BEFORE it;
    # only deletes after the cadence hit may remain outstanding
    assert len(snap.get("delete_dirs", [])) < 3, "delete files accumulate"
    # stats partials merged on the cadence: the rebuild left one row per
    # term, and only the post-compact refreshes may have re-added a delta
    st = lake.table("tx.idx_stats").read()
    per_term = st.groupBy("w").count().agg(F.max("count")).collect()[0][0]
    assert per_term <= 2, "partials were never merged"
    got = TX.bm25_query(lake, "tx.idx", ["alpha", "token1"], n=10)
    want = TS.bm25_topk(lake.table("tx.docs").read(), ["alpha", "token1"], n=10)
    assert _ranked(got) == _ranked(want)


def test_partial_apply_crash_window_never_overcounts_df(spark, sf_dir, lake):
    """r13 (r12-end advice, HIGH): a crash AFTER the postings delete
    commits but BEFORE doclen/watermark move lets the retried CDC refresh
    pass the rn == len(deleted) doclen guard while the deleted docs'
    posting rows are already gone — the negative df partials would come
    back empty and the stats table would permanently overcount df for the
    deleted docs' terms. The unpruned fallback now carries the same
    per-doc sum(tf) == dl completeness proof as the pruned slice; any
    shortfall routes the stats to the from-postings rebuild, which is
    exact."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    # the real delete on the source (rewritten history -> CDC path)
    lake.table("tx.docs").delete_where("doc_id % 2 = 0")
    deleted = [r["doc_id"] for r in docs.filter("doc_id % 2 = 0").collect()]
    in_list = ", ".join(str(d) for d in deleted)
    # simulate the crashed first attempt's half-applied state: postings
    # delete committed, doclen untouched, watermark un-advanced
    lake.table("tx.idx_postings").delete_where(
        f"doc_id IN ({in_list})", mode="merge-on-read"
    )
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "cdc" and out["n_deleted"] == len(deleted)
    # per-term stats must EXACTLY match a from-scratch recount of the
    # written postings — an overcounted df would survive here
    got = {
        r["w"]: r["df"]
        for r in lake.table("tx.idx_stats")
        .read()
        .groupBy("w")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") != 0)
        .collect()
    }
    want = {
        r["w"]: r["df"]
        for r in lake.table("tx.idx_postings")
        .read()
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("df"))
        .collect()
    }
    assert got == want
    # and the served ranking equals a one-shot over the survivors
    survivors = docs.filter(F.col("doc_id") % 2 != 0)
    assert _ranked(TX.bm25_query(lake, "tx.idx", TERMS, n=20)) == _ranked(
        TS.bm25_topk(survivors, TERMS, n=20)
    )


@pytest.mark.parametrize("feed", ["null_delete_id", "ids_collapsing_under_cast"])
def test_cdc_refresh_declines_unusable_delete_ids(
    spark, sf_dir, lake, monkeypatch, feed
):
    """The CDC refresh counts deletes on the RAW id column and declines —
    falling back to the exact re-tokenize — when a delete id does not
    cast to a doc id. A NULL delete id used to count as zero deletes: the
    refresh skipped the delete and advanced its watermark, so the deleted
    doc kept ranking. Raw ids that collapse under the cast fail the
    presence check and decline too."""
    from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lake.create_table_as("tx.docs", docs)
    TX.build_text_index(lake, "tx.docs", "tx.idx")
    real_rc = LakeTable.read_changes

    def bad_feed(self, *a, **kw):
        out = real_rc(self, *a, **kw)
        is_del = F.col("_change_type") == "delete"
        if feed == "null_delete_id":
            return out.withColumn(
                "doc_id", F.when(is_del, F.lit(None)).otherwise(F.col("doc_id"))
            )
        out = out.withColumn("doc_id", F.col("doc_id").cast("double"))
        return out.unionByName(
            out.filter(is_del).withColumn("doc_id", F.col("doc_id") + 0.5)
        )

    monkeypatch.setattr(LakeTable, "read_changes", bad_feed)
    lake.table("tx.docs").delete_where("doc_id % 7 = 0")
    out = TX.refresh_text_index(lake, "tx.idx")
    assert out["mode"] == "retokenize"
    assert out["reason"] == {
        "null_delete_id": "a deleted row has a NULL id",
        "ids_collapsing_under_cast": "a deleted id is not indexed exactly once",
    }[feed], out
    monkeypatch.undo()
    got = TX.bm25_query(lake, "tx.idx", TERMS, n=20)
    want = TS.bm25_topk(lake.table("tx.docs").read(), TERMS, n=20)
    assert _ranked(got) == _ranked(want)
