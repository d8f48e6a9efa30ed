"""Persisted full-text (BM25) index: inverted postings as lakehouse tables.

:func:`textstats.bm25_topk` is exact and one-pass, but it re-tokenizes the
corpus inside every call — at 100 TB the tokenize/count pass dwarfs any
single query. The classical fix is the inverted index: persist per-term
postings once, then a query touches only its own terms' postings. This is
the lexical twin of ``operators/ann_index.py`` (and the same persisted-
acceleration idiom as reflections, ``readme.md:320-355``).

Three snapshot-versioned lakehouse tables per index ``name``:

- ``{name}_postings`` — ``(w string, doc_id long, tf long, dl long)``,
  written range-clustered + sorted on ``w`` so every parquet file owns a
  tight term range: a query's ``w IN (...)`` predicate prunes files via
  the engine's min/max data skipping before Spark ever lists them. Each
  row carries its document's length ``dl`` (sound: a doc never spans
  postings commits — the refresh collision probe routes doc_id reuse to
  a full rebuild), so scoring needs NO doclen join.
- ``{name}_doclen``  — ``(doc_id long, dl long)``, one row per document
  with ≥ 1 token, doc_id-clustered: the membership table the refresh
  checks deleted and inserted ids against, and the source of the
  deleted docs' (N, Σdl) adjustment.
- ``{name}_stats``   — ``(w string, df long)`` per-term document
  frequency, term-clustered like the postings; refresh APPENDS the
  delta's partial rows (positive for inserted docs, negative for deleted
  docs, counted from their indexed rows) and readers sum per term, so
  maintenance is O(delta vocab). Serve reads the query terms' slice
  DRIVER-side (pyarrow over the same min/max-pruned file list) — term
  stats are planning metadata, the Lucene term-dictionary role — so
  idf literals cost no Spark job.

Query cost: ONE Spark job — the file-pruned postings scan of the query's
terms, scored and TakeOrderedAndProject'ed — never a corpus tokenize,
never an O(docs) join. Scores are IDENTICAL to
:func:`textstats.bm25_topk` (same tokens, same counts, same driver-literal
idf doubles, same int64 1e-6 quantization), so the persisted path serves
the t17 oracle verbatim. Refresh applies the source's change feed in
O(delta) through the one path in ``operators/_maint.py`` — appends,
deletes and updates alike — and falls back to a full re-tokenize when the
feed cannot be applied exactly (BM25 tf saturation is nonlinear, so a
doc split across postings commits would silently diverge).
"""

from __future__ import annotations

import json
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import _maint
from ..session import local_frame

_POSTING_COLS = ["w", "doc_id", "tf", "dl"]

#: term ranges the postings (and the stats built beside them) are split
#: into at least, so a small index still prunes a query to a few files
_TERM_RANGES = 8


def _part(index_name: str, part: str) -> str:
    return f"{index_name}_{part}"


def _postings_of(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """ONE tokenize pass → (w, doc_id, tf): split lower(text) on
    non-letter runs (identical tokens to textstats.bm25_topk's recipe),
    explode, partial-aggregated count per (doc, term)."""
    return (
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+")).alias("w"),
        )
        .where(F.col("w") != "")
        .groupBy("w", "doc_id")
        .agg(F.count("*").cast("long").alias("tf"))
    )


def _clustered(post: DataFrame, tokens: int) -> DataFrame:
    # range-cluster + sort on the term so each parquet file owns a tight
    # [min(w), max(w)] — read(where="w IN (...)") prunes files; the
    # corpus token count bounds the posting rows
    return _maint.clustered(
        post.select(*_POSTING_COLS), ["w"], tokens, _TERM_RANGES
    )


def _lengths(postings: DataFrame) -> DataFrame:
    return postings.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))


def _doclen_of(postings: DataFrame, docs: int = 0) -> DataFrame:
    # doc_id-clustered files: the refresh's deleted-id check and
    # insert-collision probe prune this table by doc_id. dl is an exact
    # int64, so layout never changes any aggregate over it.
    return _maint.clustered(_lengths(postings), ["doc_id"], docs)


def _doclen_stats(doclen: DataFrame) -> tuple[int, int]:
    """(n_docs, sum of dl) as EXACT int64 — the corpus stats every serve
    needs. Persisted as table properties and maintained additively on
    refresh, so ``bm25_query`` never aggregates doclen."""
    row = doclen.agg(
        F.count("*").cast("long").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("s"),
    ).collect()[0]
    return int(row["n"]), int(row["s"])


def _stats_of(postings: DataFrame) -> DataFrame:
    """Per-term document frequency (w, df) — term-range-clustered like the
    postings so a query's terms prune to one or two tiny files. Refresh
    APPENDS partial rows (the delta's per-term counts — POSITIVE for
    inserted docs, NEGATIVE for deleted docs); readers SUM per term, so
    maintenance stays O(delta vocab) append-only and compaction is
    layout-only. Only ever appended/overwritten by the index code —
    never row-deleted — which is what licenses the driver-side pruned
    read in :func:`bm25_query`."""
    st = postings.groupBy("w").agg(F.count("*").cast("long").alias("df"))
    return _maint.clustered(st, ["w"], ranges=_TERM_RANGES)


def _write_stats_table(lake, index_name: str, source_snapshot_id) -> None:
    """(Re)build the stats table from the WRITTEN postings files (an
    O(postings-bytes) columnar scan — never a re-tokenize) and stamp the
    source snapshot it reflects. Called at build, by the refresh repair
    path and the recluster cadence, and when a refresh cannot append an
    exact delta; a refresh otherwise appends O(delta-vocab) rows."""
    stats = _stats_of(lake.table(_part(index_name, "postings")).read())
    name = _part(index_name, "stats")
    stamp = {"text.stats-source-snapshot-id": str(source_snapshot_id)}
    if lake.table_exists(name):
        # ONE atomic commit (data + stamp) instead of drop/CTAS/props —
        # this runs inside refreshes, so its commit count is on the
        # steady-state ingest path (streaming upkeep: per trigger)
        lake.table(name).overwrite(stats, table_props=stamp)
    else:
        lake.create_table_as(name, stats)
        lake.table(name).set_properties(stamp)


def _tokenized(postings: DataFrame) -> tuple[DataFrame, DataFrame, int, int]:
    """ONE tokenize (checkpointed) → (postings carrying dl, clustered
    doclen, n_docs, Σdl): the counts size both tables' layouts."""
    postings = postings.localCheckpoint(eager=True)
    lengths = _lengths(postings).localCheckpoint(eager=True)
    nd, sdl = _doclen_stats(lengths)
    doclen = _maint.clustered(lengths, ["doc_id"], nd)
    return postings.join(lengths, "doc_id"), doclen, nd, sdl


def build_text_index(
    lake,
    source_table: str,
    index_name: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict:
    """Tokenize ``source_table`` at its CURRENT snapshot into the
    persisted postings + doclen + stats tables (replacing any prior
    build). Each posting row picks up its doc's ``dl`` so serve scores a
    pruned scan with NO doclen join."""
    src = lake.table(source_table)
    sid = src._load_meta()["current_snapshot_id"]
    if sid is None:
        raise ValueError(f"source table {source_table} has no snapshots")
    postings, doclen, nd, sdl = _tokenized(
        _postings_of(src.read(snapshot_id=sid), id_col, text_col)
    )
    for part, df in (("postings", _clustered(postings, sdl)), ("doclen", doclen)):
        name = _part(index_name, part)
        lake.drop_table(name, if_exists=True)
        lake.create_table_as(name, df)
    # corpus stats (N, sum of doc lengths) persist as table properties and
    # are maintained exactly on refresh: the serve's only remaining stats
    # job is the term-pruned postings scan — no per-query doclen aggregate
    lake.table(_part(index_name, "postings")).set_properties(
        {
            "text.params": json.dumps(
                {"id_col": id_col, "text_col": text_col}
            ),
            "text.source-table": source_table,
            "text.source-snapshot-id": str(sid),
            "text.n-docs": str(nd),
            "text.sum-dl": str(sdl),
        }
    )
    # per-term df persists beside the postings: serve's idf literals come
    # from a driver-side pruned read of this table, so a query is ONE
    # Spark job (scoring) instead of two
    _write_stats_table(lake, index_name, sid)
    return {
        "index": index_name,
        "source_snapshot_id": sid,
        # a fresh one-commit table: the manifest row count is exact
        "n_postings": lake.table(_part(index_name, "postings")).row_count_estimate(),
    }


def refresh_text_index(
    lake,
    index_name: str,
    recluster_after: int = 8,
    changes: DataFrame | None = None,
    changes_range: tuple | None = None,
) -> dict:
    """Bring the index to the source's current snapshot by applying the
    ``(watermark, current]`` change feed through :meth:`_maint.Refresh.run`
    — mode ``incremental`` for an append-only range, ``cdc`` otherwise,
    ``retokenize`` (a full rebuild, with its ``reason``) when the feed
    cannot be applied exactly, ``stats_repair``/``noop`` when the source
    has not moved.

    ``changes``/``changes_range``: an optional PRE-READ change feed for
    the snapshot range ``(from, to)`` — a caller maintaining several
    indexes of one table per trigger (streaming upkeep) reads the feed
    once over the union of the indexes' projections and passes it here;
    the refresh re-nets its own (id, text) view from it instead of
    walking the snapshot diff again. Ignored unless the range matches
    this index's exact (watermark, current) pair.

    Deletes cost O(diff): merge-on-read position deletes on the postings
    (term-clustered files untouched; the recluster compaction
    materializes the delete files away later) and a copy-on-write delete
    on the narrow doc_id-clustered doclen. Inserts tokenize only the
    inserted docs. (N, Σdl) adjust exactly from the deleted ids' doclen
    rows and the inserted docs' lengths, and the per-term stats table
    APPENDS one delta — positive partial df rows for the inserted docs,
    NEGATIVE partial rows counted from the deleted docs' INDEXED posting
    rows, never from the feed payload, so the delta is exact at any feed
    quality. Those indexed rows come from a term-pruned slice when a
    completeness proof holds (per-doc sum(tf) over the slice == the
    indexed dl — tf >= 1, so a row escaping the slice predicate leaves
    the sum short), else from a plain doc_id read that excludes nothing;
    the pre-image text only ever supplies the CANDIDATE pruning
    vocabulary, and a corrupted feed merely costs the pruning.

    Crash atomicity: deletes first, then the doclen delta, then the
    postings delta WITH the watermark and (N, Σdl) riding the same
    atomic metadata swap (``append(table_props=...)``). A crash before
    that commit leaves the watermark un-advanced: deletes re-apply as
    no-ops (or, once doclen moved, fail the deleted-id check), and a
    doclen delta already committed carries the watermark its refresh
    started from, so the retry declines to the full rebuild — no
    duplicate postings and no (N, Σdl) drift can survive. The stats delta commits LAST, in a once-only window: a
    retried refresh re-enters with the watermark at ``cur`` and routes
    to the stamp-checked repair / noop path, so it can never replay a
    feed's negative partials; a crash before the stats commit leaves the
    stamp behind the watermark, which serve routes around and the repair
    path heals. A stats table already stale at entry is rebuilt, never
    delta-appended — except by an empty feed, which leaves it to the
    repair path.

    Each appended delta writes postings files spanning the full term
    range, so term pruning degrades as refreshes accumulate — after
    ``recluster_after`` append/delete snapshots the postings re-cluster
    in place (``compact(sort_by=["w"])``: a rewrite, no re-tokenize)."""
    post_t = lake.table(_part(index_name, "postings"))
    doclen_t = lake.table(_part(index_name, "doclen"))
    r = _maint.begin(lake, index_name, post_t, "text", "text_col")
    idc, textc = r.cols
    stats_name = _part(index_name, "stats")

    def stats_stale() -> bool:
        if not lake.table_exists(stats_name):
            return True
        got = lake.table(stats_name).properties().get(
            "text.stats-source-snapshot-id"
        )
        return got != r.props["text.source-snapshot-id"]

    if r.noop:
        # repair path: a crash between the postings commit and the stats
        # commit leaves stats stale/missing — serve detects that and
        # falls back to the two-job path; this heals it WITHOUT touching
        # the corpus
        if stats_stale():
            _write_stats_table(lake, index_name, r.last)
            return {"index": index_name, "mode": "stats_repair", "n_docs": 0}
        return {"index": index_name, "mode": "noop", "n_docs": 0}

    def retokenize() -> int:
        full = r.src.read(snapshot_id=r.cur)
        postings, doclen, nd, sdl = _tokenized(_postings_of(full, idc, textc))
        # doclen first, postings (+ watermark) second, stats last — the
        # same crash windows as the delta path
        doclen_t.overwrite(doclen)
        r.wm.update({"text.n-docs": str(nd), "text.sum-dl": str(sdl)})
        post_t.overwrite(_clustered(postings, sdl), table_props=r.wm)
        _write_stats_table(lake, index_name, r.cur)
        return full.count()

    # eligible for the O(diff) stats delta only when the table was in
    # sync with the OLD watermark at entry — appending to a stale table
    # can't heal it
    st = {"fresh": not stats_stale(), "neg": None, "rn": 0, "rs": 0}

    def delete(d: _maint.Delta) -> None:
        in_list = ", ".join(str(i) for i in d.deleted)
        removed = local_frame(
            lake.spark, sorted(d.member.items()), "doc_id long, dl long"
        )
        st["rn"], st["rs"] = len(d.member), sum(d.member.values())

        def complete_against(rows_df: DataFrame) -> bool:
            # per-doc sum(tf) == the indexed dl PROVES rows_df holds
            # every posting row of every deleted doc (tf >= 1, so a row
            # escaping the read would leave the sum short)
            return (
                removed.join(
                    rows_df.groupBy("doc_id").agg(
                        F.sum("tf").cast("long").alias("dl_sl")
                    ),
                    "doc_id",
                    "full_outer",
                )
                .where("dl IS NULL OR dl_sl IS NULL OR dl <> dl_sl")
                .limit(1)
                .count()
                == 0
            )

        def coords(where: str) -> DataFrame | None:
            live = post_t.read_with_coords(where=where)
            if live is None:  # every file provably excluded
                return None
            return live.select(
                "doc_id", "w", "tf", "__sg_file", "__sg_pos"
            ).localCheckpoint(eager=True)

        # file-pruned position delete: the postings are term-clustered,
        # so a doc_id predicate alone scans every file — the delete
        # pre-images' vocabulary gives a `w IN` conjunct the term ranges
        # CAN prune. The pre-image is never trusted: the pruned slice's
        # completeness proof must pass before it drives anything, and the
        # proven slice's coordinates ARE the delete (delete_positions, no
        # second scan). Any shortfall (corrupted feed, vocab too wide to
        # bother pruning) falls back to the plain doc_id read, whose rows
        # are the delete's match set by construction.
        del_pred = f"doc_id IN ({in_list})"
        del_coords = None  # the deleted docs' proven row set, with coordinates
        if st["fresh"]:
            # at most 2001 terms reach the driver (2001 means "too wide")
            vocab = _maint.distinct_head(_postings_of(d.dels, idc, textc), "w", 2000)
            if 0 < len(vocab) <= 2000:
                terms_in = ", ".join(f"'{w}'" for w in vocab)
                slice_ = coords(f"w IN ({terms_in}) AND {del_pred}")
                if slice_ is not None and complete_against(slice_):
                    del_coords = slice_
            if del_coords is None:
                # the unpruned read is VERIFIED the same way: a crash in
                # the partial-apply window (postings delete committed,
                # doclen delete not yet) lets the retry pass the doclen
                # check while these rows come back short — appending the
                # short negatives would permanently overcount df, so any
                # shortfall routes the stats to the rebuild instead. Its
                # rows are the delete's match set either way.
                del_coords = coords(del_pred)
                if del_coords is None or not complete_against(del_coords):
                    st["fresh"] = False
            if st["fresh"]:
                st["neg"] = del_coords.groupBy("w").agg(
                    (-F.count("*")).cast("long").alias("df")
                )
        if del_coords is not None:
            post_t.delete_positions(del_coords)
        else:
            # no coordinate read ran (stats stale at entry) or every file
            # was excluded: the single-pass delete_where is the cheapest
            # correct form
            post_t.delete_where(del_pred, mode="merge-on-read")
        doclen_t.delete_where(del_pred)

    def commit(d: _maint.Delta) -> dict:
        an = asd = 0
        if d.n_ins:
            ins_post = _postings_of(d.ins, idc, textc).localCheckpoint(eager=True)
            ins_doclen = _doclen_of(ins_post, d.n_ins).localCheckpoint(eager=True)
            doclen_t.append(ins_doclen, snapshot_props=r.member_props)
            an, asd = _doclen_stats(ins_doclen)
        r.wm.update({
            "text.n-docs": str(int(r.props["text.n-docs"]) - st["rn"] + an),
            "text.sum-dl": str(int(r.props["text.sum-dl"]) - st["rs"] + asd),
        })
        if d.n_ins:
            # dl rides each delta posting row (inserted ids are disjoint
            # from the indexed corpus — the collision probe proved it);
            # the delta's token count bounds its posting rows
            post_t.append(
                _maint.clustered(
                    ins_post.join(ins_doclen, "doc_id").select(*_POSTING_COLS),
                    ["w"], asd,
                ),
                table_props=r.wm,
            )
        else:
            post_t.set_properties(r.wm)
        # the O(diff) stats delta, LAST (the once-only window above)
        stamp = {"text.stats-source-snapshot-id": str(r.cur)}
        pos = ins_post.groupBy("w").agg(
            F.count("*").cast("long").alias("df")
        ) if d.n_ins else None
        parts = [p for p in (st["neg"], pos) if p is not None]
        if st["fresh"]:
            if parts:
                delta = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
                lake.table(stats_name).append(
                    _maint.clustered(delta, ["w"]), table_props=stamp
                )
            else:  # an empty feed moves no rows: restamp
                lake.table(stats_name).set_properties(stamp)
        elif d.n_ins or d.deleted:
            _write_stats_table(lake, index_name, r.cur)
        return {"n_docs": d.n_ins, "n_deleted": len(d.deleted)}

    return r.run(
        doclen_t, "doc_id", delete, commit, retokenize, "retokenize", "n_docs",
        lambda: _maybe_recluster(lake, index_name, post_t, recluster_after),
        changes, changes_range, member_val="dl",
    )


def _maybe_recluster(lake, index_name: str, post_t, recluster_after: int) -> None:
    """Layout maintenance on a snapshot cadence, run after every refresh
    that applied a feed: after ``recluster_after`` append/delete
    snapshots since the last rewrite, the postings compact in term order
    (restoring tight per-file term ranges and materializing the delete
    files away — the Iceberg CoW-after-MoR contract) and the stats table
    REBUILDS from the written postings — merging the accumulated partial
    rows (and dropping zero-sum terms) exactly, on the same amortized
    cadence as the postings rewrite itself. A crash between the two
    leaves valid partials with a matching stamp: nothing to heal, the
    next cadence hit merges them."""
    if not recluster_after or _maint.snapshots_since_rewrite(post_t) <= recluster_after:
        return
    post_t.compact(sort_by=["w"])
    if lake.table_exists(_part(index_name, "stats")):
        _write_stats_table(
            lake, index_name, post_t.properties()["text.source-snapshot-id"]
        )


def cdc_feed_spec(lake, index_name: str) -> dict:
    """What a shared-feed maintainer needs to read ONE change feed for
    several indexes of the same table (streaming upkeep): the index's
    source table, its watermark snapshot, and the columns its CDC refresh
    projects. Metadata-only (table properties)."""
    props = lake.table(_part(index_name, "postings")).properties()
    params = json.loads(props["text.params"])
    return {
        "source": props["text.source-table"],
        "last": int(props["text.source-snapshot-id"]),
        "cols": [params["id_col"], params["text_col"]],
    }


def text_index_status(lake, index_name: str) -> dict:
    """Freshness surface (the reflections `status()` idiom): the source
    snapshot the postings were tokenized at vs the source's current
    snapshot — what a maintenance loop (or strict caller) checks before
    serving."""
    props = lake.table(_part(index_name, "postings")).properties()
    src = lake.table(props["text.source-table"])
    indexed = int(props["text.source-snapshot-id"])
    cur = src._load_meta().get("current_snapshot_id")
    return {
        "index": index_name,
        "source_table": props["text.source-table"],
        "indexed_snapshot_id": indexed,
        "source_snapshot_id": cur,
        "fresh": cur == indexed,
        "params": json.loads(props["text.params"]),
    }


def _driver_term_stats(
    lake, index_name: str, terms_l: list[str], post_props: dict, in_list: str
) -> dict[str, float] | None:
    """Per-term df for the query's terms WITHOUT a Spark job, from the
    persisted ``{name}_stats`` table: list the files the term predicate
    leaves after the same min/max skipping every read gets, then read the
    ≤|terms|-row slice driver-side with pyarrow. Term statistics are
    PLANNING metadata — the idf literals live in the query plan, not the
    data flow — so the driver reads them the way it reads manifests and
    table properties (the role Lucene's term dictionary plays). Sound
    because the stats table is append/overwrite-only (``_stats_of``);
    returns None when the table is missing or its snapshot stamp doesn't
    match the postings watermark (a pre-stats index, or the crash window
    between the postings commit and the stats rewrite) — callers fall
    back to the two-job serve, which is always correct."""
    name = _part(index_name, "stats")
    if not lake.table_exists(name):
        return None
    st = lake.table(name)
    if (
        st.properties().get("text.stats-source-snapshot-id")
        != post_props["text.source-snapshot-id"]
    ):
        return None
    from urllib.parse import urlparse

    import pyarrow.dataset as ds

    # the pyarrow path only understands local posix files — a non-posix
    # URI (s3://, hdfs://, percent-encoded) or any listing/read failure
    # must degrade to the always-correct in-query df job, never error
    try:
        files = [
            urlparse(f).path
            for f in st.read(where=f"w IN ({in_list})").inputFiles()
        ]
        out: dict[str, float] = {}
        if not files:
            return out
        tbl = ds.dataset(files, format="parquet").to_table(
            columns=["w", "df"], filter=ds.field("w").isin(terms_l)
        )
        # partial rows (one per refresh delta touching the term) sum exactly
        for w, d in zip(
            tbl.column("w").to_pylist(), tbl.column("df").to_pylist()
        ):
            out[w] = out.get(w, 0.0) + float(d)
        return out
    except Exception:
        return None


def bm25_query(
    lake,
    index_name: str,
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
    n: int = 20,
) -> DataFrame:
    """Okapi BM25 top-``n`` served from the PERSISTED index — scores
    bit-identical to :func:`textstats.bm25_topk` over the same corpus
    (same tokens/counts, same driver-literal idf IEEE doubles, same
    HALF_UP 1e-6 int64 quantization, same doc_id tie-break). Work per
    query: ONE Spark job — a file-pruned postings scan of the query's
    terms (each row carries its doc's length), one projection +
    TakeOrderedAndProject. (N, Σdl) come from table properties and
    per-term df from a driver-side pruned read of the stats table
    (:func:`_driver_term_stats`); when either is unavailable the serve
    falls back to computing them with an extra aggregate job. The corpus
    text is never touched."""
    terms_l = sorted({str(t) for t in terms})
    if not terms_l:
        raise ValueError("bm25_query needs at least one term")
    in_list = ", ".join("'" + t.replace("'", "''") + "'" for t in terms_l)
    # file-level min/max skipping on the sorted term column prunes the
    # postings files before Spark lists them
    post_t = lake.table(_part(index_name, "postings"))
    post = post_t.read(where=f"w IN ({in_list})")
    # (N, sum dl) come from the table properties maintained exactly at
    # build/refresh, so avgdl is the same IEEE double(sum)/double(count)
    # the doclen aggregate produced (integer-valued double sums below
    # 2^53 are order-exact); per-term df from the driver-side stats read.
    # Each collect costs a ~0.1-0.2s job floor and the serve is
    # floor-dominated — per-query work must not grow with the corpus.
    props = post_t.properties()
    n_docs = avgdl = 0.0
    nd = int(props["text.n-docs"])
    if nd:
        n_docs = float(nd)
        avgdl = float(int(props["text.sum-dl"])) / n_docs
    dfrow = _driver_term_stats(lake, index_name, terms_l, props, in_list)
    if dfrow is None:
        # stale/missing stats table: compute df with an extra job
        dfrow = {
            r.w: r.a
            for r in post.groupBy("w")
            .agg(F.count("*").cast("double").alias("a"))
            .collect()
        }
    cases = None
    for t in terms_l:
        df_t = dfrow.get(t)
        if not df_t or df_t <= 0:
            # absent, or partial rows summed to 0 (every doc holding the
            # term was CDC-deleted): the term scores nothing either way
            continue
        v = math.log(1.0 + (n_docs - df_t + 0.5) / (df_t + 0.5))
        c = F.when(F.col("w") == t, F.lit(v))
        cases = c if cases is None else cases.when(F.col("w") == t, F.lit(v))
    if cases is None:
        # no query term occurs in the corpus: empty ranking
        return post.select(
            F.lit(0).cast("long").alias("rank"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit(0).cast("long").alias("score_q6"),
        ).limit(0)
    idf = cases.otherwise(F.lit(0.0))
    # dl rides every posting row: the scoring job is the pruned scan
    # alone — no doclen join, nothing to broadcast, the shape that
    # survives a billion-doc doclen table
    tfc = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.lit(avgdl))
    )
    per_term = F.round(idf * tfc * F.lit(1000000.0), 0).cast("long")
    top = (
        post.groupBy("doc_id")
        .agg(F.sum(per_term).alias("score_q6"))
        .orderBy(F.desc("score_q6"), F.asc("doc_id"))
        .limit(n)
    )
    w = Window.orderBy(F.desc("score_q6"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        F.col("score_q6").cast("long").alias("score_q6"),
    )
