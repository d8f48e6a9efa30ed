"""Shared maintenance of the persisted text (BM25) and ANN indexes: the
one refresh path both run, their layout-maintenance cadence, and the file
layout their clustered tables are written in.

A refresh reads ONE change feed — ``read_changes(last, cur, key_cols=[],
project=[id, payload])``, or a caller's shared per-trigger feed re-netted
onto that projection — and applies it through :meth:`Refresh.run`. An
append-only range is the same feed with inserts only (``read_changes``
reads just the appended files for it), so appends, deletes and updates
all take this path; the index's full rebuild is only the target of a decline,
and every decline reports and logs its reason."""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_LOG = logging.getLogger(__name__)

#: the largest set of deleted rows a refresh applies as position deletes —
#: the driver collects their ids, and an IN-list that long approaches a
#: rewrite anyway; a larger set declines to the full rebuild
MAX_DELETES = 5000

#: the row count one clustered index file is sized for
ROWS_PER_FILE = 1 << 16

#: snapshot property on a refresh's membership-table append: the index
#: watermark that refresh started from
_FROM = "index.refresh-from"


def clustered(df: DataFrame, cols: list[str], rows: int = 0, ranges: int = 1) -> DataFrame:
    """Range-cluster ``df`` on ``cols`` and sort each range, so every file
    owns a tight [min, max] of ``cols`` and a read predicate on them
    prunes files. The file count is ``max(ranges, ceil(rows /
    ROWS_PER_FILE))``: ``rows`` bounds the rows written and ``ranges`` is
    the split the index's structure asks for (one range per ANN cell).
    Neither comes from the session, so the layout — and the pruning it
    buys — is the same whatever number of cores built it."""
    n = max(ranges, -(-rows // ROWS_PER_FILE), 1)
    # one range needs no shuffle: coalescing writes from the upstream
    # stage, where a range exchange would cost AQE a job of its own
    out = df.coalesce(1) if n == 1 else df.repartitionByRange(n, *cols)
    return out.sortWithinPartitions(*cols)


def distinct_head(df: DataFrame, col: str, cap: int) -> list:
    """The smallest ``cap + 1`` distinct non-NULL values of ``col``,
    ascending; ``cap + 1`` values mean "over the cap". The limit sits
    above the distinct, so executors keep spillable distinct buffers and
    a per-partition top-(cap+1), never the whole set in one aggregation
    buffer, and the driver gets at most ``cap + 1`` values."""
    head = (
        df.select(col).where(F.col(col).isNotNull()).distinct()
        .orderBy(col).limit(cap + 1)
    )
    return [r[0] for r in head.collect()]


def snapshots_since_rewrite(table) -> int:
    """Trailing run of append/delete snapshots since the last full
    rewrite (overwrite/compact/anything else resets) — the layout-
    maintenance cadence both index families compact on: appends erode
    clustering, merge-on-read deletes accumulate delete files, and a
    rewrite op re-establishes both."""
    n = 0
    for s in table._load_meta()["snapshots"]:
        n = n + 1 if s["operation"] in ("append", "delete") else 0
    return n


def reproject_changes(changes: DataFrame, cols: list[str]) -> DataFrame:
    """Re-net an already-materialized change feed onto a column SUBSET —
    row-identical to ``read_changes(last, cur, key_cols=[], project=cols)``
    without another snapshot-diff walk: a shared trigger reads the feed
    ONCE over the union of its indexes' projections and each refresh
    re-nets its own view from it.

    Equivalence: the wider feed holds one row per NET full-projection
    change with a signed multiplicity (+insert/−delete). For any value v
    of the sub-projection, net(v) = Σ over fibers of the full-projection
    nets — rows that netted to zero contribute zero — so grouping the
    feed by ``cols`` and summing signs reproduces exactly the multiset
    diff of the sub-projected snapshots. Same shape as read_changes'
    count-weighted diff; pairing (update_pre/postimage) is out of scope
    (the index consumers read with key_cols=[])."""
    w = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    j = (
        changes.select(*cols, w.alias("__w"))
        .groupBy(*cols)
        .agg(F.sum("__w").alias("__d"))
        .filter(F.col("__d") != 0)
    )
    return (
        j.withColumn(
            "__i", F.explode(F.sequence(F.lit(1), F.abs(F.col("__d"))))
        )
        .select(
            *cols,
            F.when(F.col("__d") > 0, F.lit("insert"))
            .otherwise(F.lit("delete"))
            .alias("_change_type"),
        )
    )


class Decline(Exception):
    """A change feed the index cannot apply exactly; the message is the
    reason the refresh reports with its full rebuild."""


@dataclass
class Delta:
    """One refresh's feed, resolved by :meth:`Refresh.run` for the index's
    own delete and commit steps."""

    append_only: bool  # every snapshot in the range is an append
    ins: DataFrame  # inserted rows (id, payload)
    dels: DataFrame  # deleted rows (id, pre-image payload)
    n_ins: int
    bounds: tuple  # (min, max) inserted id
    deleted: list[int] = field(default_factory=list)  # sorted dropped ids
    member: dict = field(default_factory=dict)  # deleted id -> member value


@dataclass
class Refresh:
    """The preamble of one index refresh — what the index's properties
    say it holds and how far its source has moved. ``wm`` is the
    watermark the index's data commit carries."""

    index_name: str
    props: dict
    params: dict
    src: object
    last: int
    cur: int | None
    cols: list[str]
    wm: dict

    @property
    def noop(self) -> bool:
        return self.cur is None or self.cur == self.last

    @property
    def member_props(self) -> dict:
        """``snapshot_props`` for the index's membership-table append."""
        return {_FROM: str(self.last)}

    def run(
        self,
        member_t,
        member_col: str,
        delete: Callable[[Delta], None],
        commit: Callable[[Delta], dict],
        rebuild: Callable[[], int],
        rebuild_mode: str,
        counter: str,
        recluster: Callable[[], None],
        changes: DataFrame | None = None,
        changes_range: tuple | None = None,
        member_val: str | None = None,
    ) -> dict:
        """Apply the ``(last, cur]`` change feed to the index, or rebuild.

        ``member_t`` is the index's id-clustered membership table (one row
        per indexed id, ``member_col``; ``member_val`` an optional value
        column handed to ``delete`` per deleted id; its append must
        carry :attr:`member_props`). The steps, in order: a check that no
        earlier refresh from this watermark stopped half-way; read and
        checkpoint the feed (a shared ``changes`` is used only when
        ``changes_range`` is exactly ``(last, cur)``, so it can never
        change what the refresh computes); one summary aggregate with
        the delete cap and NULL-id checks; one aggregate checking that
        each deleted id is indexed exactly once and that the source keeps
        no row of it the feed does not re-insert; the index's
        ``delete``; the insert-collision probe; the index's ``commit``
        (which must carry the watermark in its data commit); the
        ``recluster`` cadence. A check that fails raises
        :class:`Decline` before the watermark moves, and the refresh runs
        ``rebuild`` instead and reports ``rebuild_mode`` with the
        reason.

        The mode is ``incremental`` when every snapshot in the range is
        an append, ``cdc`` otherwise."""
        try:
            d = self._delta(member_t, member_col, member_val, changes, changes_range)
            if d.deleted:
                delete(d)
            if d.n_ins:
                self._probe(member_t, member_col, d)
            out = commit(d)
        except Decline as e:
            _LOG.warning(
                "%s refresh %s -> %s declined (%s); running a full %s",
                self.index_name, self.last, self.cur, e, rebuild_mode,
            )
            n = rebuild()
            return {
                "index": self.index_name, "mode": rebuild_mode, counter: n,
                "reason": str(e),
            }
        recluster()
        mode = "incremental" if d.append_only else "cdc"
        return {"index": self.index_name, "mode": mode, **out}

    def _delta(self, member_t, member_col, member_val, changes, changes_range) -> Delta:
        idc = self.cols[0]
        snap = member_t._current_snapshot(member_t._load_meta()) or {}
        if snap.get("props", {}).get(_FROM) == str(self.last):
            # a refresh from this watermark appended to the membership
            # table but never moved the watermark: its inserts are live
            # there while the rows it deleted are not, so neither the
            # deleted-id check nor the collision probe can be trusted
            raise Decline("an interrupted refresh left a partial commit")
        try:
            append_only = not self.src.rewrites_in(self.last, self.cur)
            if changes is not None and changes_range == (self.last, self.cur):
                feed = reproject_changes(changes, self.cols)
            else:
                # projected feed: the diff shuffle carries only (id,
                # payload), and updates to other source columns are not
                # index changes
                feed = self.src.read_changes(
                    self.last, self.cur, key_cols=[], project=self.cols
                )
        except Exception as e:
            raise Decline("change feed unavailable") from e
        feed = feed.localCheckpoint(eager=True)
        is_ins = F.col("_change_type") == "insert"
        rid = F.col(idc).cast("long")
        # ONE summary aggregate: the insert count, the deleted-row count
        # the cap checks BEFORE any id reaches the driver, the deletes
        # whose id casts to NULL, and the insert id bounds the collision
        # probe prunes with
        s = feed.agg(
            F.count(F.when(is_ins, 1)).alias("n_ins"),
            F.count(F.when(~is_ins, 1)).alias("n_del"),
            F.count(F.when(~is_ins & rid.isNull(), 1)).alias("n_bad"),
            F.min(F.when(is_ins, rid)).alias("i_mn"),
            F.max(F.when(is_ins, rid)).alias("i_mx"),
        ).collect()[0]
        if s["n_del"] > MAX_DELETES:
            raise Decline(f"{s['n_del']} deleted rows exceed the {MAX_DELETES} cap")
        if s["n_bad"]:
            # a delete whose id is NULL (or not an integer) names no
            # index row: declining beats advancing the watermark over it
            raise Decline("a deleted row has a NULL id")
        d = Delta(
            append_only=append_only,
            ins=feed.filter(is_ins).drop("_change_type"),
            dels=feed.filter(~is_ins).drop("_change_type"),
            n_ins=int(s["n_ins"]),
            bounds=(s["i_mn"], s["i_mx"]),
        )
        if not s["n_del"]:
            return d
        # one id per distinct RAW id: raw ids that collapse under the cast
        # (3.0 and 3.5 both name 3) show up twice and fail the check below
        raw = {r[0]: r[1] for r in d.dels.select(idc, rid).collect()}
        d.deleted = sorted(raw.values())
        ids = sorted(set(d.deleted))
        in_list = ", ".join(str(i) for i in ids)
        val = F.col(member_val) if member_val else F.lit(None)
        # ONE aggregate over three id slices: the membership rows of the
        # deleted ids (side 0), the source rows at `cur` holding them
        # (side 1), and the feed's inserts of them (side 2)
        sides = (
            member_t.read(where=f"{member_col} IN ({in_list})").select(
                F.col(member_col).cast("long").alias("id"),
                val.cast("long").alias("v"), F.lit(0).alias("side"),
            )
            .unionByName(
                self.src.read(snapshot_id=self.cur, where=f"{idc} IN ({in_list})")
                .select(rid.alias("id"), F.lit(None).cast("long").alias("v"),
                        F.lit(1).alias("side"))
            )
            .unionByName(
                d.ins.where(rid.isin(ids)).select(
                    rid.alias("id"), F.lit(None).cast("long").alias("v"),
                    F.lit(2).alias("side"),
                )
            )
            .groupBy("side", "id")
            .agg(F.count("*").alias("n"), F.sum("v").alias("v"))
            .collect()
        )
        n = {(r["side"], r["id"]): r["n"] for r in sides}
        if sorted(i for (side, i), k in n.items() if side == 0
                  for _ in range(k)) != d.deleted:
            raise Decline("a deleted id is not indexed exactly once")
        # dropping every index row of a deleted id is exact only when the
        # source keeps no row of it that the feed does not re-insert (a
        # duplicated id netting to one delete keeps its other row); ids
        # only, so a corrupted pre-image payload cannot trip this
        if any(n.get((1, i), 0) != n.get((2, i), 0) for i in d.deleted):
            raise Decline("a deleted id keeps source rows the feed does not insert")
        d.member = {r["id"]: r["v"] for r in sides if r["side"] == 0}
        return d

    def _probe(self, member_t, member_col, d: Delta) -> None:
        """Decline when an inserted id is still live in the membership
        table (a re-used id, or a half-applied refresh a crash left) —
        read only where the insert id bounds allow: the table is
        id-clustered, so files outside the bounds skip, and when every
        file skips the probe plans no job at all."""
        mn, mx = d.bounds
        live = member_t.read(
            where=None if mn is None else f"{member_col} BETWEEN {mn} AND {mx}"
        )
        if not live.inputFiles():
            return
        ids = d.ins.select(F.col(self.cols[0]).cast("long").alias(member_col))
        if not live.join(F.broadcast(ids), member_col, "left_semi").isEmpty():
            raise Decline("an inserted id is already indexed")


def begin(lake, index_name: str, meta_t, prefix: str, payload_key: str) -> Refresh:
    """The refresh preamble: read the index's properties from ``meta_t``
    (``{prefix}.params`` / ``.source-table`` / ``.source-snapshot-id``),
    the source's current snapshot, and the feed projection ``[id_col,
    params[payload_key]]``."""
    props = meta_t.properties()
    params = json.loads(props[f"{prefix}.params"])
    src = lake.table(props[f"{prefix}.source-table"])
    cur = src._load_meta().get("current_snapshot_id")
    return Refresh(
        index_name=index_name, props=props, params=params, src=src,
        last=int(props[f"{prefix}.source-snapshot-id"]), cur=cur,
        cols=[params["id_col"], params[payload_key]],
        wm={f"{prefix}.source-snapshot-id": str(cur)},
    )
