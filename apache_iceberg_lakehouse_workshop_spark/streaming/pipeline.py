"""Structured-Streaming twin of the batch event pipeline (M7).

The reference has **no streaming operators** (SURVEY §2.9) — its closest
analogue is the append-only, day-partitioned event table pattern
(``/root/reference/industry-examples/manufacturing.sql:37-45`` IoT readings;
``semantic_example.sql:77-90`` app-log usage events) plus periodically
refreshed reflections (``readme.md:383-389``). This module is the engine's
*extension*: the same raw→silver→gold SQL applied to an unbounded stream.

Design (idiomatic Structured Streaming):

- ``read_event_stream``: file-source ``readStream`` with the events schema —
  on a real deployment the source line swaps to Kafka; everything downstream
  is source-agnostic.
- ``tumbling_rollup`` / ``sliding_rollup``: watermark + ``window(ts, …)``
  groupBy — the streaming twin of the batch ``e1_daily_event_rollup`` query
  (queries_pipeline.py); identical results on the same data once the stream
  drains (verified by tests/test_streaming.py).
- ``stream_dedup``: ``dropDuplicatesWithinWatermark`` — the streaming twin of
  the W1 latest-per-key dedup idiom.
- ``running_user_totals``: custom stateful operator via
  ``applyInPandasWithState`` (running per-user spend with idle-timeout
  flush) — the pattern for operators Spark lacks built-in.
- Exactly-once sinks: ``append_stream_batch`` / ``upsert_stream_batch`` /
  ``apply_changes_stream_batch`` commit one micro-batch atomically with
  its (checkpoint, batch id), and that commit raises the checkpoint's
  replay mark in table metadata, so a redelivered batch is skipped even
  after ``expire_snapshots``.
- One trigger body, ``_trigger``: a sink, then a refresh of every
  dependent of the table (aggregate reflections, text and ANN indexes)
  on every trigger, replays included. ``stream_to_table`` /
  ``stream_upsert_to_table`` / ``stream_apply_changes`` are sinks alone;
  ``stream_maintain_reflection`` / ``stream_maintain_index`` /
  ``stream_cdc_maintain_indexes`` add their dependents.
- ``stream_neardup_filter``: cross-batch MinHash-LSH near-dup dropping
  with the signature state persisted as a lakehouse table (unbounded
  corpus state, bounded executor memory, restart-safe) — the streaming
  face of the batch dedup family.

Scale: watermarking bounds state; the shuffle per micro-batch is keyed the
same as the batch twin; ``availableNow`` triggers let the same code run as
an incremental backfill job — the standard lakehouse streaming posture.
"""

from __future__ import annotations

import logging
import time
from functools import partial
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# The driver's events table shape (TESTDATA.md): event_id, user_id, ts,
# event_type, value. The streaming source reads TIMESTAMP (not NTZ) because
# watermarks operate on TimestampType.
_LOG = logging.getLogger(__name__)

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def read_event_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source event stream (JSON lines). Swap for Kafka in production —
    the downstream plan is identical."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.json(source_dir)


def tumbling_rollup(
    events: DataFrame, window_size: str = "1 day", watermark: str = "1 hour"
) -> DataFrame:
    """Watermarked tumbling-window rollup — streaming twin of
    e1_daily_event_rollup (late rows beyond the watermark are dropped;
    within it, windows re-emit corrected totals)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_rollup(
    events: DataFrame,
    window_size: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window variant (each event lands in size/slide windows)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window_size, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.avg("value").alias("avg_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "avg_value")
    )


def session_rollup(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Session-window rollup: events closer than ``gap`` per user merge into
    one session (``F.session_window`` — dynamic, data-driven windows; the
    sessionization a training-data pipeline needs for user-activity
    grouping). Works identically on batch DataFrames (omit the watermark
    requirement) — tests exploit that for a batch twin."""
    if events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "total_value",
        )
    )


def stream_dedup(events: DataFrame, keys: list[str], watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: keeps the first arrival per key, with state
    bounded by the watermark — the unbounded-input form of the W1
    latest-per-key idiom (SURVEY §2.5 W1)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


_TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("spend", DoubleType())]
)
_TOTALS_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_purchases", LongType()),
        StructField("spend", DoubleType()),
    ]
)


def running_user_totals(events: DataFrame, idle_timeout_ms: int = 30_000) -> DataFrame:
    """Custom stateful operator: running per-user purchase totals with
    idle-timeout state eviction — the ``applyInPandasWithState`` pattern for
    semantics Spark has no built-in operator for (SURVEY 'custom operators'
    route (b))."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        n, spend = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            purchases = pdf[pdf["event_type"] == "purchase"]
            n += len(purchases)
            spend += float(purchases["value"].sum()) if len(purchases) else 0.0
        state.update((n, float(spend)))
        state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({"user_id": [key[0]], "n_purchases": [n], "spend": [spend]})

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_TOTALS_OUT,
        stateStructType=_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def _commit_once(
    lake_table, checkpoint_dir: str, batch_df: DataFrame, batch_id: int, write, cdc: bool = False
) -> bool:
    """The exactly-once core of every sink: skip a batch the table already
    holds, or an empty one, else ``write(props)`` it with ``props`` =
    (checkpoint, batch_id) on its commits. Returns True if it wrote.

    Structured Streaming redelivers a batch after a failure between the
    sink write and the checkpoint advance (at-least-once); the batch id
    riding the commit's atomic metadata swap makes that replay a no-op —
    Iceberg's streaming sink stores it in the snapshot summary the same
    way. The commit that completes a batch also raises the checkpoint's
    high-water mark in table metadata (``stream_marks``, Delta's
    ``SetTransaction``), and ``expire_snapshots`` never drops it, so a
    crash, a maintenance run and a restart still dedupe. Snapshot props are
    read too, for tables committed before the mark existed; there a
    ``cdc`` (apply-changes) batch counts only once its ``cdc_complete``
    commit landed."""
    meta = lake_table._load_meta()
    if meta.get("stream_marks", {}).get(checkpoint_dir, -1) >= batch_id:
        return False
    for snap in meta["snapshots"]:
        props = snap.get("props") or {}
        if (
            props.get("checkpoint") == checkpoint_dir
            and props.get("batch_id") is not None
            and int(props["batch_id"]) >= batch_id
            and props.get("cdc_complete", not cdc)
        ):
            return False
    if batch_df.isEmpty():
        return False
    write({"checkpoint": checkpoint_dir, "batch_id": batch_id})
    return True


def append_stream_batch(lake_table, checkpoint_dir: str, batch_df: DataFrame, batch_id: int) -> bool:
    """Idempotently append one micro-batch as one snapshot — table contents
    are exactly-once (:func:`_commit_once`). Returns True if the batch was
    appended, False if it was a replay or empty."""
    return _commit_once(
        lake_table, checkpoint_dir, batch_df, batch_id,
        lambda props: lake_table.append(batch_df, snapshot_props=props),
    )


def upsert_stream_batch(
    lake_table, checkpoint_dir: str, keys: list[str], batch_df: DataFrame, batch_id: int,
    seq_col: str | None = None, equality: bool = False, fold_every: int | None = None,
) -> bool:
    """Idempotently UPSERT one CDC micro-batch: reduce the batch to its
    per-key latest row (by ``seq_col`` — a change sequence / source
    timestamp; deterministic tie-break over the remaining columns), then
    ``merge`` it into the table as ONE atomic snapshot carrying
    (checkpoint, batch_id) — the same exactly-once contract as
    :func:`append_stream_batch`, for streams of updates instead of
    streams of facts (Iceberg's streaming MERGE / CDC-apply shape).
    Returns False on replay or empty batch.

    ``equality=True`` applies the batch via
    :meth:`LakeTable.upsert_equality` instead of a MERGE — Flink's
    Iceberg upsert mode: each batch writes an equality-delete file of its
    keys plus its rows, O(batch) per trigger with NO target scan at all
    (a MERGE in either write mode pays a key-range-pruned target read
    every batch).
    ``fold_every=N`` bounds the read-side cost of a long-running sink:
    once N equality-delete files are outstanding they consolidate into
    one position-delete dir (``fold_deletes`` — ONE coordinates-only
    scan, no data rewrite), so readers never chain more than N
    anti-joins no matter how long the stream runs."""

    def write(props: dict) -> None:
        src = batch_df
        if seq_col is not None:
            others = [c for c in src.columns if c not in keys]
            w = Window.partitionBy(*keys).orderBy(
                F.desc(seq_col), *[F.desc(c) for c in others if c != seq_col]
            )
            src = src.withColumn("__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")
        else:
            src = src.dropDuplicates(keys)
        if not equality:
            lake_table.merge(src, keys, snapshot_props=props)
            return
        lake_table.upsert_equality(src, keys, snapshot_props=props)
        if fold_every is not None:
            snap = lake_table._current_snapshot(lake_table._load_meta())
            if len((snap or {}).get("eq_deletes", [])) >= fold_every:
                lake_table.fold_deletes()

    return _commit_once(lake_table, checkpoint_dir, batch_df, batch_id, write)


def apply_changes_stream_batch(
    lake_table, checkpoint_dir: str, keys: list[str], batch_df: DataFrame, batch_id: int
) -> bool:
    """Idempotently apply ONE changelog micro-batch — inserts, update
    pairs, AND deletes (`_change_type` rows straight from
    :meth:`LakeTable.read_changes`) — via :meth:`LakeTable.apply_changes`.
    Exactly-once: only apply_changes' FINAL commit (``cdc_complete``)
    completes the batch, so a crash between the upsert and delete halves
    re-applies the whole batch (state-idempotent: same upserts, same
    key deletes) instead of losing the deletes. Returns False on replay
    or empty batch."""
    return _commit_once(
        lake_table, checkpoint_dir, batch_df, batch_id,
        lambda props: lake_table.apply_changes(batch_df, keys, snapshot_props=props),
        cdc=True,
    )


def _index_module(kind: str):
    from ..operators import ann_index, text_index

    return {"ann": ann_index, "text": text_index}[kind]


def _index_deps(lake, indexes: list[tuple[str, str]]) -> list[tuple]:
    """``(index_name, kind)`` pairs as trigger dependents, checked before
    any stream starts."""
    for _name, kind in indexes:
        if kind not in ("ann", "text"):
            raise ValueError(f"unknown index kind: {kind!r} (want 'ann' or 'text')")
    return [(kind, lake, name) for name, kind in indexes]


def _refresh(dep: tuple, **feed) -> dict:
    """Bring one dependent to its source's current snapshot. A dependent
    is ``(kind, owner, name)``: an aggregate reflection of an
    ``AcceleratorRegistry`` (kind ``reflection``) — merged incrementally
    from the appended delta, O(batch + groups), with a full refresh only
    when the incremental algebra refuses (rewritten history) — or a
    ``text`` / ``ann`` index of a ``Lakehouse``, through its CDC refresh
    (``feed`` is the trigger's shared change feed, if any). Both are
    watermark-driven, so a fresh dependent no-ops."""
    kind, owner, name = dep
    if kind != "reflection":
        return getattr(_index_module(kind), f"refresh_{kind}_index")(owner, name, **feed)
    fresh = owner.is_fresh(name)
    if not fresh and not owner.refresh_incremental_agg(name):
        owner.refresh(name)
        return {"reflection": name, "mode": "full"}
    return {"reflection": name, "mode": "noop" if fresh else "incremental"}


def _shared_feeds(lake_table, deps: list[tuple]) -> dict:
    """``{(kind, name): refresh kwargs}`` sharing ONE change feed among
    the index dependents of ``lake_table`` in sync at one watermark.

    With several indexes at the same watermark, the trigger reads the
    snapshot-range change feed ONCE — projected to the union of the
    indexes' CDC columns, checkpointed — and passes it to every refresh,
    which re-nets its own view from it (:func:`_maint.reproject_changes`);
    otherwise each refresh walks the same snapshot diff independently.
    Any asymmetry falls back safely, and each refresh itself ignores a
    feed whose range doesn't match its exact (watermark, current) pair,
    so the sharing can never change what a refresh computes.

    Indexes are GROUPED BY WATERMARK instead of requiring every watermark
    equal — a crash-skewed trigger (one index healed, one behind) still
    shares one feed walk per distinct range, exactly when recovery load
    is highest; singleton groups read their own feed inside the refresh.
    A failed shared-feed construction logs the fallback."""
    indexes = [d for d in deps if d[0] != "reflection"]
    if len(indexes) < 2:
        return {}
    try:
        cur = lake_table._load_meta().get("current_snapshot_id")
        groups: dict[int, list] = {}
        for kind, lake, name in indexes:
            spec = _index_module(kind).cdc_feed_spec(lake, name)
            if spec["source"] == lake_table.name and cur is not None and spec["last"] != cur:
                groups.setdefault(spec["last"], []).append(((kind, name), spec["cols"]))
        feeds = {}
        for last, group in groups.items():
            if len(group) < 2:
                continue  # a lone index reads its own feed anyway
            cols = list(dict.fromkeys(c for _key, spec_cols in group for c in spec_cols))
            feed = lake_table.read_changes(
                last, cur, key_cols=[], project=cols
            ).localCheckpoint(eager=True)
            for key, _cols in group:
                feeds[key] = {"changes": feed, "changes_range": (last, cur)}
        return feeds
    except Exception:
        _LOG.warning(
            "shared CDC feed construction failed for %s; falling back "
            "to per-index feed reads (correct, just N snapshot-diff "
            "walks instead of one per watermark group)",
            lake_table.name, exc_info=True,
        )
        return {}


def _trigger(
    lake_table, sink, deps: list[tuple], stats: list | None, batch_df: DataFrame, batch_id: int
) -> None:
    """The one trigger body of every sink stream: ``sink(batch_df,
    batch_id)`` (an exactly-once sink; True when it applied the batch),
    then a refresh of every dependent in ``deps`` (see :func:`_refresh`),
    then one ``{"batch_id", "refreshes", "trigger_s"}`` entry in ``stats``
    per APPLIED trigger (replays record none).

    The refreshes run EVEN ON A REPLAYED BATCH: a crash between the sink
    and the refreshes would otherwise leave the dependents stale forever
    (with availableNow and no further data there is no 'next trigger' to
    heal), and the replayed trigger is exactly the healing opportunity.
    Safe because each refresh is watermark-driven — a fresh dependent
    no-ops."""
    t0 = time.time()
    applied = sink(batch_df, batch_id)
    feeds = _shared_feeds(lake_table, deps)

    def one(dep: tuple) -> dict:
        return _refresh(dep, **feeds.get((dep[0], dep[2]), {}))

    if len(deps) > 1:
        # overlap independent jobs: the refreshes are independent by
        # construction — each commits only its OWN tables (per-table
        # lock-file commit protocol), reads the shared feed (an
        # already-materialized localCheckpoint, safe for concurrent
        # consumption) and only ever READS the source table. Run
        # sequentially, they serialize ~30–60 small jobs per refresh, each
        # carrying a driver gap (planning, commit bookkeeping, footer-stats
        # reads) during which the executors sit idle; a thread per
        # dependent lets one refresh's tasks back-fill the other's driver
        # gaps. Any refresh exception re-raises here (pool.map) and fails
        # the trigger, and a crash mid-trigger heals on replay — whichever
        # refreshes completed no-op on the replayed batch.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        # session-aware form: propagates job group/description AND session
        # tags to the worker threads (the bare form warns and drops tags),
        # so a stream cancellation still reaches the child jobs. Under the
        # classic NON-pinned gateway (PYSPARK_PIN_THREAD=false)
        # inheritable_thread_target(session) returns the SESSION itself
        # instead of a decorator (the documented non-pinned behavior is
        # the bare-callable no-op form) — guard it, or every multi-
        # dependent trigger in that config dies with "'SparkSession'
        # object is not callable".
        wrapped = inheritable_thread_target(lake_table.spark)
        if callable(wrapped) and not isinstance(wrapped, SparkSession):
            target = wrapped(one)
        else:
            target = inheritable_thread_target(one)
        with ThreadPoolExecutor(max_workers=min(len(deps), 4)) as pool:
            outs = list(pool.map(target, deps))
    else:
        outs = [one(dep) for dep in deps]
    if applied and stats is not None:
        stats.append(
            {"batch_id": batch_id, "refreshes": outs, "trigger_s": round(time.time() - t0, 4)}
        )


def _start(stream_df: DataFrame, process, checkpoint_dir: str, trigger_available_now: bool):
    """Run ``process(batch_df, batch_id)`` per micro-batch of
    ``stream_df``; ``availableNow`` drains what is there and stops."""
    writer = stream_df.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_to_table(stream_df: DataFrame, lake_table, checkpoint_dir: str, trigger_available_now: bool = True):
    """Sink a stream into a lakehouse table: each micro-batch is one atomic
    snapshot append carrying its batch id, so replays dedupe and the table
    is exactly-once (see :func:`append_stream_batch` — the Iceberg
    streaming-sink contract: writers produce files, one metadata commit per
    batch, batch id in the snapshot summary)."""
    sink = partial(append_stream_batch, lake_table, checkpoint_dir)
    process = partial(_trigger, lake_table, sink, [], None)
    return _start(stream_df, process, checkpoint_dir, trigger_available_now)


def stream_maintain_reflection(
    stream_df: DataFrame, lake_table, accelerator, reflection_name: str,
    checkpoint_dir: str, trigger_available_now: bool = True,
):
    """Continuously-fresh reflections — the streaming face of the
    reference's periodic reflection refresh (readme.md:383-389): each
    micro-batch (a) idempotently appends to the anchor lake table
    (:func:`append_stream_batch` exactly-once contract) and (b) merges the
    appended delta into the registered AGGREGATE reflection via
    ``refresh_incremental_agg`` — O(batch + groups) per batch, falling
    back to a full refresh only when the incremental algebra refuses
    (rewritten history). Queries routed through the accelerator therefore
    keep serving from the materialized partials while the stream runs.

    Crash-safe: the staleness check runs on EVERY trigger, replays
    included (:func:`_trigger`), and ``read_incremental(recorded)`` covers
    every batch since the last successful merge."""
    sink = partial(append_stream_batch, lake_table, checkpoint_dir)
    deps = [("reflection", accelerator, reflection_name)]
    process = partial(_trigger, lake_table, sink, deps, None)
    return _start(stream_df, process, checkpoint_dir, trigger_available_now)


def stream_maintain_index(
    stream_df: DataFrame, lake, lake_table, index_name: str, checkpoint_dir: str,
    kind: str = "ann", trigger_available_now: bool = True,
):
    """Continuously-fresh persisted indexes — the
    :func:`stream_maintain_reflection` pattern applied to the ANN
    (``operators.ann_index``) or BM25 (``operators.text_index``) index:
    each micro-batch (a) idempotently appends to the source lake table
    (exactly-once via :func:`append_stream_batch`) and (b) refreshes the
    index — O(batch) per trigger on append-only history (encode/tokenize
    only the delta against the frozen quantizers / postings layout).
    Crash-safe: the refresh is watermark-driven (the index records its
    synced source snapshot) and runs on every trigger, replays included
    (:func:`_trigger`)."""
    sink = partial(append_stream_batch, lake_table, checkpoint_dir)
    process = partial(_trigger, lake_table, sink, _index_deps(lake, [(index_name, kind)]), None)
    return _start(stream_df, process, checkpoint_dir, trigger_available_now)


def stream_cdc_maintain_indexes(
    changes_stream: DataFrame, lake, lake_table, keys: list[str],
    indexes: list[tuple[str, str]], checkpoint_dir: str,
    trigger_available_now: bool = True, stats: list | None = None,
):
    """The full 100 TB ingestion story in one measured path: a CHANGELOG
    stream of mixed upserts/deletes sinks into a source table via
    equality-delete apply (O(batch) per trigger, no target scan —
    :func:`apply_changes_stream_batch`), and the table's persisted ANN +
    text indexes stay fresh through the CDC refresh in the SAME trigger —
    deletes land as O(diff) position deletes on the index tables, inserts
    as O(delta) encode/tokenize, never an O(corpus) rebuild
    (``operators.ann_index.refresh_ann_index`` /
    ``operators.text_index.refresh_text_index``, both through the one
    refresh path in ``operators._maint``). ``indexes`` is a list of
    ``(index_name, kind)`` with kind ``'ann'`` or ``'text'``; indexes in
    sync share one change-feed read per trigger, and their refreshes run
    on threads (:func:`_trigger`). Crash-safe for the same reason as
    :func:`stream_maintain_index`, INCLUDING on a replayed trigger, so the
    heal needs no new data to arrive. Pass ``stats`` (a list) to receive
    one ``{"batch_id", "refreshes": [{"index", "mode", ...}]}`` dict per
    applied trigger — the observability hook the bench probe and tests
    read refresh modes from."""
    sink = partial(apply_changes_stream_batch, lake_table, checkpoint_dir, keys)
    process = partial(_trigger, lake_table, sink, _index_deps(lake, indexes), stats)
    return _start(changes_stream, process, checkpoint_dir, trigger_available_now)


def stream_upsert_to_table(
    stream_df: DataFrame, lake_table, keys: list[str], checkpoint_dir: str,
    seq_col: str | None = None, trigger_available_now: bool = True,
    equality: bool = False, fold_every: int | None = None,
):
    """Sink a CDC/update stream into a lakehouse table as per-batch
    MERGEs: each micro-batch collapses to its per-key latest row and
    upserts atomically with its batch id in the snapshot summary, so the
    table always holds exactly one (latest) row per key, replays dedupe,
    and a reader at any snapshot sees a consistent upsert boundary. The
    streaming twin of ``MERGE INTO`` — per batch it costs one plain
    upsert (``LakeTable.merge``): a key-range-pruned rewrite of the
    affected files, or position deletes plus an append under
    ``write.merge.mode=merge-on-read``; never a table rewrite.
    ``equality=True`` switches to Iceberg v2 equality-delete
    upserts (Flink upsert mode): O(batch) per trigger, zero target
    scans — the shape a high-frequency CDC sink needs at 100 TB;
    ``fold_every=N`` caps the outstanding delete files (readers never
    chain more than N anti-joins) via a coordinates-only fold, no data
    rewrite."""
    sink = partial(
        upsert_stream_batch, lake_table, checkpoint_dir, keys,
        seq_col=seq_col, equality=equality, fold_every=fold_every,
    )
    process = partial(_trigger, lake_table, sink, [], None)
    return _start(stream_df, process, checkpoint_dir, trigger_available_now)


def stream_apply_changes(
    changes_stream: DataFrame, lake_table, keys: list[str], checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Sink a CHANGELOG stream (rows with ``_change_type``: insert /
    delete / update_preimage / update_postimage) into a lakehouse table —
    the streaming form of :meth:`LakeTable.apply_changes` and the missing
    half of the CDC roundtrip: ``read_changes`` on the source produces
    exactly this shape, so source DML history (deletes included)
    replicates table-to-table through a stream. Per micro-batch cost is
    O(batch): upserts land as equality-delete writes (no target scan),
    pure deletes as one equality-delete file. Each batch must hold at
    most one surviving row per key (one changelog RANGE per batch — what
    a per-snapshot feed gives); exactly-once per
    :func:`apply_changes_stream_batch`."""
    sink = partial(apply_changes_stream_batch, lake_table, checkpoint_dir, keys)
    process = partial(_trigger, lake_table, sink, [], None)
    return _start(changes_stream, process, checkpoint_dir, trigger_available_now)


def stream_asof_enrich(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    sink,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    **asof_kwargs,
):
    """Enrich a stream with the nearest prior fact from a static or
    slowly-changing dimension — the streaming twin of
    :func:`~apache_iceberg_lakehouse_workshop_spark.operators.asof.asof_join`.

    Window functions cannot run on an unbounded stream, so the as-of is
    applied per micro-batch via ``foreachBatch``: each batch joins against
    the (bounded) dimension with the exact batch operator. Enrichment is a
    pure per-row function of (row, dim), so the drained result equals the
    one-shot batch as-of regardless of micro-batch boundaries — pinned by
    the batch-twin test. ``sink(enriched_df, batch_id)`` owns the write
    (compose with :func:`append_stream_batch` for the exactly-once table
    sink). For a dimension that itself updates, re-read it inside ``sink``
    scheduling or restart the query on dim refresh — the per-batch join
    always sees the dimension as of batch start.
    """
    from ..operators.asof import asof_join

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sink(asof_join(batch_df, dim_df, on, left_ts, right_ts, **asof_kwargs), batch_id)

    return _start(stream_df, process, checkpoint_dir, trigger_available_now)


def stream_neardup_filter(
    doc_stream: DataFrame,
    out_table,
    sig_table,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    trigger_available_now: bool = True,
):
    """Cross-batch near-duplicate filtering for a document stream — the
    streaming face of the MinHash-LSH dedup family.

    The production ingest pattern: per micro-batch,

    1. compute banded MinHash signatures of the batch docs (identical
       signature math to ``operators.dedup.minhash_lsh_pairs``);
    2. drop every doc sharing any (band_id, band_sig) with the persisted
       signature table — i.e. an LSH candidate against ANY previously
       accepted doc. This is candidate-level (blocking) filtering, the
       recall-oriented knob a streaming pipeline wants: prior docs' shingle
       sets are not retained, so no exact-Jaccard verify pass — tune
       num_hashes/band_size for the acceptable false-drop rate, or run the
       batch verifier over the accepted corpus offline;
    3. dedup within the batch itself: per colliding (band_id, band_sig)
       group the smallest ``doc_id`` survives (near-dup transitivity, the
       standard blocking assumption);
    4. append survivors to ``out_table`` and their signatures to
       ``sig_table`` under the same idempotent batch-id commit
       (:func:`append_stream_batch`), so replays cannot double-accept.

    State lives in the lakehouse, not executor memory: the signature table
    is ordinary partitioned parquet joined per batch — unbounded corpus
    state with bounded executor footprint, restart-safe for free, and the
    per-batch cost is one equi-join keyed on (band_id, band_sig) at any
    scale.
    """
    from ..operators.dedup import banded_signatures

    def process(batch_df: DataFrame, batch_id: int) -> None:
        sig = banded_signatures(
            batch_df, text_col, id_col, num_hashes, band_size, shingle_n
        ).localCheckpoint()
        seen = sig_table.read().select("band_id", "band_sig")
        hit = (
            sig.join(seen, ["band_id", "band_sig"], "left_semi")
            .select("id")
            .distinct()
        )
        fresh_sig = sig.join(hit, "id", "left_anti")
        keepers = fresh_sig.groupBy("band_id", "band_sig").agg(
            F.min("id").alias("keeper")
        )
        intra_drop = (
            fresh_sig.join(keepers, ["band_id", "band_sig"])
            .filter(F.col("id") != F.col("keeper"))
            .select("id")
            .distinct()
        )
        # anti-join against the DROP set (not inner-join against the
        # signed survivors): a doc too short to produce a single shingle
        # has no signature rows and must still pass through
        dropped = hit.unionByName(intra_drop).distinct()
        survivors = batch_df.join(
            dropped.withColumnRenamed("id", id_col), id_col, "left_anti"
        )
        # each table carries its own batch-id idempotency marker, so a
        # replay after a crash between the two appends completes exactly
        # the missing one
        append_stream_batch(
            sig_table, checkpoint_dir, sig.join(dropped, "id", "left_anti"), batch_id
        )
        append_stream_batch(out_table, checkpoint_dir, survivors, batch_id)

    return _start(doc_stream, process, checkpoint_dir, trigger_available_now)


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    max_lag: str = "10 minutes",
    watermark: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join — two UNBOUNDED inputs joined on
    equi-keys with a bounded time relationship (the right event at or
    before the left event, within ``max_lag``): Spark buffers each side's
    state only up to watermark + lag, so state is bounded while every
    in-bound match is exact. This is the real-time twin of the as-of /
    interval joins (attribute each purchase to the browse that preceded it
    within N minutes, correlate sensor streams, click->impression
    attribution).

    The time-bound condition is what makes the state finite — without it
    Spark would have to keep every past row of both sides forever; with
    it, rows older than the watermark past the bound are evicted after
    emitting. Outer variants ('leftOuter'/'rightOuter'/'fullOuter') emit
    their NULL-padded rows only once the watermark proves no match can
    arrive — exactly the late-data contract batch backfills need.

    Column naming: the right side's timestamp and key columns come back
    suffixed ``_r`` so both sides' values survive into the result."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    for c in on + [right_ts]:
        rw = rw.withColumnRenamed(c, f"{c}_r")
    cond = None
    for c in on:
        eq = F.col(c) == F.col(f"{c}_r")
        cond = eq if cond is None else cond & eq
    lag = F.expr(f"INTERVAL {max_lag}")
    cond = (
        cond
        & (F.col(f"{right_ts}_r") <= F.col(left_ts))
        & (F.col(f"{right_ts}_r") >= F.col(left_ts) - lag)
    )
    return lw.join(rw, cond, how)
