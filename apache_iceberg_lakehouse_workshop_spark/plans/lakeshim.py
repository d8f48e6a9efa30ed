"""Lakehouse table layer: snapshot-versioned tables over a parquet warehouse.

The reference's storage surface is Apache Iceberg driven from Spark
(``/root/reference/spark.py:18-68``) and from SQL (`CREATE TABLE … USING
iceberg`, `PARTITION BY (DAY(ts))`, `DELETE FROM`, `table_snapshot()/
table_history()` — ``/root/reference/readme.md:199-224,357-370``,
``industry-examples/finance_example.sql:15-25``, ``logistics_AI.sql:60``).
This environment ships no Iceberg runtime jar, so the engine provides the
same *behavioral* surface natively on Spark:

- **Snapshot-versioned commits.** Every write (append / overwrite / delete /
  compact) produces a new immutable snapshot; a snapshot is a list of commit
  directories, each holding immutable parquet files. This mirrors Iceberg's
  core invariant (writers produce data files; one atomic metadata swap
  commits them — SURVEY §3 entry point 2).
- **Time travel**: ``read(snapshot_id=…)`` / ``read(as_of=…)`` ≈ Iceberg
  ``VERSION AS OF`` / ``TIMESTAMP AS OF``.
- **Metadata tables**: ``snapshots()`` / ``history()`` / ``files()`` ≈
  ``t.snapshots`` / ``t.history`` / ``t.files`` (readme.md:360-370).
- **One snapshot scan** (``_scan``): every read path — ``read()``,
  ``read_with_coords``, the DML scans, ``fold_deletes``,
  ``read_incremental`` — builds its frame there: schema epoch, rename
  lineage, drop tombstones, commit filters, the pinned file schema and
  min/max file skipping, then equality and position deletes.
- **DELETE / UPDATE / MERGE** in two commit shapes. Copy-on-write
  (default; one ``_rewrite`` helper): commit dirs whose stats prove the
  predicate cannot match carry over untouched, the affected ones are
  rewritten. Merge-on-read (``write.{delete,update,merge}.mode``): data
  files stay, the matched rows' coordinates land in a position-delete dir
  the new snapshot references. Old snapshots stay readable either way.
- **Maintenance** (readme.md:391-401 "automated table optimization"):
  ``compact()`` ≈ ``rewrite_data_files`` bin-packing, ``expire_snapshots()``
  ≈ snapshot/manifest pruning with orphan-file removal.
- **Hidden partitioning**: ``partition_by=["days(ts)"]`` materializes a
  derived partition column (``_p_days_ts``) at write so scans prune on a
  raw-column predicate without the user referencing the partition column
  (SURVEY §4 R1) — same contract as Iceberg transform partitioning.

Scale posture: the metadata JSON is tiny (file lists, not row data) and all
data moves through ordinary distributed parquet reads/writes — commits are
O(files touched), reads are planned by Spark with full predicate pushdown /
partition pruning on the partition dirs. At 100 TB the commit-dir layout is
exactly the "many immutable files + small metadata" shape object stores want.
Atomicity on a real deployment comes from the same rename-based metadata swap
Iceberg's hadoop catalog uses (write temp, atomic rename), and commits carry
optimistic concurrency: data files are written outside any lock, then a short
create-if-absent-locked load-verify-swap either rebases (appends) or aborts
with :class:`CommitConflictError` (rewrites whose base snapshot moved) — no
concurrent writer can silently lose an update (Iceberg's commit invariant).
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import dialect
from ..session import local_frame

class _Beginning:
    """Sentinel for :meth:`LakeTable.read_changes` bounds: the addressable
    pre-first-snapshot state (an EMPTY table). ``None`` keeps its
    Delta-``table_changes``-compatible overloads ("since table creation"
    as a *from* bound, "current" as a *to* bound) — which makes the empty
    starting state unaddressable as a *to* bound without this sentinel.
    A changelog consumer registered before the producer's first commit
    passes ``BEGINNING`` and gets exact semantics either side."""

    __slots__ = ()

    def __repr__(self) -> str:  # pragma: no cover - cosmetic
        return "BEGINNING"


#: the singleton — ``read_changes(BEGINNING, sid)`` / ``(sid, BEGINNING)``
BEGINNING = _Beginning()

_TRANSFORM_RE = re.compile(r"^(days|months|years|hours)\((\w+)\)$")
# Iceberg's parameterized transforms: bucket(N, col), truncate(W, col)
_PARAM_TRANSFORM_RE = re.compile(r"^(bucket|truncate)\((\d+)\s*,\s*(\w+)\)$")

# Derived hidden-partition columns are prefixed so they never collide with
# user columns and are dropped on read.
_HP_PREFIX = "_p_"

# A merge-on-read scan's physical row coordinates: ``_metadata.file_path``
# and ``_metadata.row_index`` of each live row — what position deletes key
# on.
_COORDS = ("__sg_file", "__sg_pos")

_TRANSFORM_EXPR = {
    "days": lambda c: F.date_trunc("day", F.col(c)).cast("date"),
    "months": lambda c: F.date_trunc("month", F.col(c)).cast("date"),
    "years": lambda c: F.date_trunc("year", F.col(c)).cast("date"),
    "hours": lambda c: F.date_trunc("hour", F.col(c)),
}

def _param_transform(kind: str, n: int, col: str, dtype: str):
    # bucket: stable hash mod N (Iceberg uses murmur3; any stable hash gives
    # the same pruning/clustering properties within this engine).
    if kind == "bucket":
        return F.pmod(F.hash(F.col(col)), F.lit(n))
    # truncate: width-truncate numerics, prefix-truncate strings (Iceberg
    # truncate transform semantics).
    if dtype in ("string",):
        return F.substring(F.col(col), 1, n)
    return (F.floor(F.col(col) / n) * n).cast("long")


def _now_ms() -> int:
    return int(time.time() * 1000)


_EQUI_CONJ_RE = re.compile(
    r"^`?(\w+)`?\.`?(\w+)`?\s*=\s*`?(\w+)`?\.`?(\w+)`?$"
)


def _on_equi_conjuncts(on: str, t: str, s: str, table: str) -> list[tuple[str, str]]:
    """Equi-conjunct pairs ``(target_col, source_col)`` from a MERGE ON
    condition: conjuncts split at depth-0 ANDs, each conjunct stripped of
    balanced outer parens, equi matches accept backticked/whitespace
    variants. A depth-0
    OR makes the AND-decomposition itself invalid — the cardinality check
    would silently weaken, so it RAISES instead of skipping. Non-equi
    conjuncts (extra filters) are legal and ignored; at least one equi
    conjunct is required (it is also what makes the merge join
    shuffle-plannable rather than a cross product)."""
    if dialect.find_top(on, ("OR",)) is not None:
        raise ValueError(
            f"MERGE INTO {table}: ON contains a top-level OR — the "
            "cardinality check needs an unconditional "
            "target.col = source.col equi-conjunct; parenthesize the "
            "disjunction and AND it with the merge key"
        )
    pairs: list[tuple[str, str]] = []
    for conj in dialect.split_top(on, "AND"):
        m = _EQUI_CONJ_RE.match(dialect.strip_parens(conj))
        if not m:
            continue
        a_al, a_col, b_al, b_col = m.groups()
        if a_al == t and b_al == s:
            pairs.append((a_col, b_col))
        elif a_al == s and b_al == t:
            pairs.append((b_col, a_col))
    if not pairs:
        raise ValueError(
            "MERGE ON must contain at least one target.col = source.col "
            f"equality (aliases {t!r}, {s!r}); got: {on!r}"
        )
    return pairs


class CommitConflictError(RuntimeError):
    """A concurrent writer committed between this operation's base read and
    its metadata swap. Appends never raise this (they rebase onto the fresh
    snapshot under the commit lock); operations that REWRITE content derived
    from their base snapshot (overwrite / delete / update / merge / compact)
    abort with it instead of silently last-writer-winning — Iceberg's
    serializable-isolation contract. Callers retry by redoing the whole
    operation against the new current snapshot."""


def _nullable_type(dt: T.DataType) -> T.DataType:
    """Recursively mark a type fully nullable. Declared table schemas are
    normalized this way: parquet round-trips drop non-null guarantees (a
    read always yields containsNull=true arrays etc.), and Spark 4 refuses
    to cast e.g. array<string NOT NULL> from a nullable read."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _nullable_type(f.dataType), True) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_nullable_type(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_nullable_type(dt.keyType), _nullable_type(dt.valueType), True)
    return dt


def _requires(*privileges: str):
    """Gate a LakeTable entry point behind the grants registry when the
    owning :class:`Lakehouse` runs with ``enforce_grants=True`` (matching
    ``industry-examples/permissions.sql:1-11`` semantics instead of merely
    recording them). ANY listed privilege admits the call (``WRITE`` is the
    folder-level umbrella the workshop grants). Nested internal calls (a
    DELETE reading its own table) are not re-checked — the user's intent
    was authorized at the entry point."""
    import functools

    def deco(fn):
        @functools.wraps(fn)
        def wrapper(self, *args, **kwargs):
            if self._acl is not None and self._acl_depth == 0:
                self._acl(privileges, self.name)
            self._acl_depth += 1
            try:
                return fn(self, *args, **kwargs)
            finally:
                self._acl_depth -= 1

        return wrapper

    return deco


class LakeTable:
    """One snapshot-versioned table. Obtained via :class:`Lakehouse`."""

    def __init__(self, spark: SparkSession, path: str, name: str):
        self.spark = spark
        self.path = path
        self.name = name
        # set by Lakehouse when enforce_grants=True: callable
        # (privileges, object_name) -> None | raises PermissionError
        self._acl = None
        self._acl_depth = 0

    # ------------------------------------------------------------ metadata

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "metadata.json")

    def _load_meta(self) -> dict:
        with open(self._meta_path) as f:
            return json.load(f)

    def _commit(self, meta: dict) -> None:
        # Atomic swap: write-temp + rename — the same commit protocol shape
        # as Iceberg's hadoop catalog (SURVEY §3: "writers produce data
        # files, then a single metadata commit"). Callers must hold
        # _commit_lock(); the rename alone orders the swap but cannot detect
        # a lost update.
        tmp = self._meta_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path)

    _LOCK_TIMEOUT_S = 60.0

    @contextmanager
    def _commit_lock(self):
        """Exclusive commit section via O_CREAT|O_EXCL lock file — the one
        atomic create-if-absent primitive every POSIX fs (and object-store
        preconditioned PUT) offers; the same role Iceberg's catalog
        compare-and-swap plays. Data-file writes happen OUTSIDE the lock
        (they are the long part and touch only fresh uuid-named commit
        dirs); only load-verify-swap runs inside, so the critical section is
        milliseconds regardless of table size.

        Stale locks from crashed writers are broken after _LOCK_TIMEOUT_S
        via :meth:`_try_steal` — an owner-verified unlink serialized through
        a steal mutex, so two stalled waiters can never double-unlink (the
        naive unverified unlink let the second waiter delete a FRESH lock
        the first waiter had just acquired)."""
        lock = os.path.join(self.path, "metadata.lock")
        owner = uuid.uuid4().hex
        deadline = time.monotonic() + self._LOCK_TIMEOUT_S
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, owner.encode())
                break
            except FileExistsError:
                self._try_steal(lock)
                if time.monotonic() > deadline:
                    raise TimeoutError(
                        f"commit lock for table {self.name} held > "
                        f"{self._LOCK_TIMEOUT_S}s"
                    )
                time.sleep(0.01)
        try:
            yield
        finally:
            os.close(fd)
            try:
                os.unlink(lock)
            except FileNotFoundError:
                pass  # a stealer mistook a long pause for a crash; the
                # metadata swap itself already happened atomically

    def _try_steal(self, lock: str) -> None:
        """Break a crashed writer's lock, safely: (1) observe the lock is
        stale AND record its owner uuid, (2) serialize stealers through a
        steal mutex (O_EXCL sidecar), (3) re-verify under the mutex that
        the lock is STILL the same stale one before unlinking. A fresh lock
        acquired between observation and unlink carries a different owner
        uuid (or a fresh mtime) and survives. Returns without stealing in
        every doubtful case — the waiter just keeps polling."""
        steal = lock + ".steal"
        try:
            if time.time() - os.path.getmtime(lock) <= self._LOCK_TIMEOUT_S:
                return  # live lock
            with open(lock) as f:
                stale_owner = f.read()
        except OSError:
            return  # lock vanished/changed between stats — nothing to steal
        try:
            sfd = os.open(steal, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            # another stealer holds the mutex; if THAT stealer crashed,
            # break its (tiny, milliseconds-held) mutex by age
            try:
                if time.time() - os.path.getmtime(steal) > self._LOCK_TIMEOUT_S:
                    os.unlink(steal)
            except OSError:
                pass
            return
        try:
            try:
                with open(lock) as f:
                    cur_owner = f.read()
                if (
                    cur_owner == stale_owner
                    and time.time() - os.path.getmtime(lock) > self._LOCK_TIMEOUT_S
                ):
                    os.unlink(lock)
            except OSError:
                pass  # already gone or just replaced — leave it
        finally:
            os.close(sfd)
            try:
                os.unlink(steal)
            except FileNotFoundError:
                pass

    def _commit_rewrite(
        self,
        base_parent: int | None,
        operation: str,
        commit_dirs: list[str],
        props: dict | None = None,
        commit_filters: dict[str, str] | None = None,
        delete_dirs: list[str] | None = None,
        eq_deletes: list[dict] | None = None,
        table_props: dict | None = None,
    ) -> dict:
        """Verify-and-swap for rewrite-style commits: the new file set was
        derived from the snapshot that was current at ``base_parent``; if
        another writer moved the table since, committing would silently drop
        their rows — abort instead (caller redoes the op).

        ``table_props`` updates table properties IN the same atomic metadata
        swap as the snapshot (Iceberg: one metadata.json commit can carry
        both) — maintenance watermarks ride the data commit, never a
        separate property-only write a crash could separate."""
        with self._commit_lock():
            meta = self._load_meta()
            if meta.get("current_snapshot_id") != base_parent:
                raise CommitConflictError(
                    f"{operation} on {self.name}: base snapshot {base_parent} "
                    f"is no longer current "
                    f"(now {meta.get('current_snapshot_id')}); retry the "
                    "operation against the new snapshot"
                )
            snap = self._new_snapshot(
                meta, operation, commit_dirs, props, commit_filters, delete_dirs,
                eq_deletes,
            )
            if table_props:
                meta.setdefault("properties", {}).update(
                    {str(k): str(v) for k, v in table_props.items()}
                )
            self._commit(meta)
        return snap

    @staticmethod
    def _carried(
        snap: dict | None,
        delete_dir: str | None = None,
        eq_delete: dict | None = None,
    ) -> dict:
        """``snap``'s commit filters and merge-on-read deletes as commit
        keyword arguments — what a commit that keeps ``snap``'s data files
        must carry (dropping them would resurrect deleted or compacted-away
        rows). ``delete_dir`` / ``eq_delete`` add one new entry."""
        snap = snap or {}
        return {
            "commit_filters": dict(snap.get("commit_filters", {})) or None,
            "delete_dirs": list(snap.get("delete_dirs", []))
            + ([delete_dir] if delete_dir else []) or None,
            "eq_deletes": list(snap.get("eq_deletes", []))
            + ([eq_delete] if eq_delete else []) or None,
        }

    @staticmethod
    def _dml_mode(meta: dict, operation: str, mode: str | None) -> str:
        """The write mode of one DML ``operation`` (``delete`` / ``update``
        / ``merge``): ``mode`` when given, else the table property
        ``write.<operation>.mode`` (the Iceberg v2 knob), else
        copy-on-write."""
        if mode is None:
            mode = meta.get("properties", {}).get(
                f"write.{operation}.mode", "copy-on-write"
            )
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown {operation} mode {mode!r}")
        return mode

    def _current_snapshot(self, meta: dict) -> dict | None:
        snaps = meta["snapshots"]
        if not snaps:
            return None
        by_id = {s["id"]: s for s in snaps}
        return by_id[meta["current_snapshot_id"]]

    def _new_snapshot(
        self,
        meta: dict,
        operation: str,
        commit_dirs: list[str],
        props: dict | None = None,
        commit_filters: dict[str, str] | None = None,
        delete_dirs: list[str] | None = None,
        eq_deletes: list[dict] | None = None,
    ) -> dict:
        cur = self._current_snapshot(meta)
        snap = {
            # max-based, not current+1: branch snapshots can carry higher
            # ids than main's current, and ids must stay table-unique
            "id": max((s["id"] for s in meta["snapshots"]), default=0) + 1,
            "parent_id": cur["id"] if cur else None,
            "ts_ms": _now_ms(),
            "operation": operation,
            "commit_dirs": commit_dirs,
        }
        if delete_dirs:
            # Iceberg v2 merge-on-read: position-delete dirs whose
            # (file_path, row_index) rows are anti-joined out of every
            # read of THIS snapshot. Rewrite-style commits that re-derive
            # the full row set from read() simply don't pass them — the
            # deletes are materialized away.
            snap["delete_dirs"] = delete_dirs
        if eq_deletes:
            # Iceberg v2 EQUALITY deletes: each entry is
            # {"dir": <parquet dir of key tuples>, "cols": [physical key
            # columns], "applies_to": [commit dirs present when the delete
            # was written]} — the sequence-number rule at commit-dir
            # granularity: a data row is removed iff its key null-safe-
            # equals a delete row AND it lives in an applies_to dir; rows
            # appended later always survive. Written WITHOUT reading the
            # target (the point: O(keys) streaming upserts), folded away by
            # any full rewrite.
            snap["eq_deletes"] = eq_deletes
        if commit_filters:
            # {commit_dir: exclude_predicate}: rows of that dir where the
            # predicate is TRUE are NOT part of this snapshot (they were
            # rewritten elsewhere by a partition-scoped compaction) — the
            # shim's equivalent of Iceberg dropping rewritten files from
            # the manifest while other partitions' rows share the files
            snap["commit_filters"] = commit_filters
        if props:
            # arbitrary commit properties riding the atomic metadata swap —
            # the Iceberg snapshot-summary mechanism (streaming sinks store
            # their batch id here for exactly-once replay)
            snap["props"] = props
            ckpt, bid = props.get("checkpoint"), props.get("batch_id")
            if ckpt is not None and bid is not None and props.get("cdc_complete", True):
                # a commit completing a stream batch raises its checkpoint's
                # replay mark, which expire_snapshots never drops (Delta's
                # SetTransaction); an apply_changes first half does not
                marks = meta.setdefault("stream_marks", {})
                marks[ckpt] = max(int(bid), marks.get(ckpt, int(bid)))
        meta["snapshots"].append(snap)
        meta["current_snapshot_id"] = snap["id"]
        return snap

    # ------------------------------------------------------------ writes

    def _partition_cols(self, meta: dict) -> list[tuple[str, str | None]]:
        """[(physical_partition_col, transform_src_col_or_None), ...]"""
        out = []
        for spec in meta["partition_by"]:
            m = _TRANSFORM_RE.match(spec)
            pm = _PARAM_TRANSFORM_RE.match(spec)
            if m:
                out.append((f"{_HP_PREFIX}{m.group(1)}_{m.group(2)}", spec))
            elif pm:
                out.append((f"{_HP_PREFIX}{pm.group(1)}{pm.group(2)}_{pm.group(3)}", spec))
            else:
                out.append((spec, None))
        return out

    def _prepare(self, df: DataFrame, meta: dict) -> tuple[DataFrame, list[str]]:
        pcols = []
        dtypes = dict(df.dtypes)
        for phys, spec in self._partition_cols(meta):
            if spec is not None:
                m = _TRANSFORM_RE.match(spec)
                if m:
                    df = df.withColumn(phys, _TRANSFORM_EXPR[m.group(1)](m.group(2)))
                else:
                    pm = _PARAM_TRANSFORM_RE.match(spec)
                    kind, n, col = pm.group(1), int(pm.group(2)), pm.group(3)
                    df = df.withColumn(phys, _param_transform(kind, n, col, dtypes.get(col, "")))
            pcols.append(phys)
        return df, pcols

    def _write_commit_dir(self, df: DataFrame, meta: dict) -> str:
        commit, _rows = self._write_commit_dir_counted(df, meta)
        return commit

    def _write_commit_dir_counted(
        self, df: DataFrame, meta: dict
    ) -> tuple[str, int]:
        """Write a commit dir and return ``(commit, n_rows)`` — the row
        count comes FREE from the footer walk ``_write_file_stats`` already
        does, which lets DML paths write a derived frame ONCE and decide
        empty-vs-nonempty from the written footers instead of paying an
        ``isEmpty()`` pre-pass that recomputes the whole frame (r14: the
        CoW delete/merge paths each ran their survivor scan twice)."""
        commit = f"commit-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, "data", commit)
        df, pcols = self._prepare(df, meta)
        w = df.write.mode("error")
        if pcols:
            w = w.partitionBy(*pcols)
        w.parquet(out)
        rows = self._write_file_stats(out, dict(df.dtypes))
        # record the commit's exact PHYSICAL file schema (the frame minus
        # the partition columns, whose values live in dir names) — the
        # read side pins it to skip the per-dir mergeSchema inference job
        # (see _static_read_schema). The declared schema cannot serve: an
        # append may legally write wider physical types (INT64 under a
        # declared INT).
        phys = T.StructType(
            [f for f in df.schema.fields if f.name not in set(pcols)]
        )
        tmp = os.path.join(out, "_schema.json.tmp")
        with open(tmp, "w") as f:
            json.dump(phys.jsonValue(), f)
        os.replace(tmp, os.path.join(out, "_schema.json"))
        return commit, rows

    def _drop_commit_dir(self, commit: str) -> None:
        """Remove a just-written, never-committed commit/delete dir (the
        empty-result case of a fused write-then-decide DML pass). Failure
        is harmless — an uncommitted dir is an orphan no snapshot
        references; ``expire_snapshots``'s orphan sweep owns stragglers."""
        import shutil

        try:
            shutil.rmtree(os.path.join(self.path, "data", commit))
        except OSError:
            pass

    @staticmethod
    def _footers(out: str):
        """``(relative path, footer metadata)`` per parquet file under a
        just-written dir — the one footer walk behind the stats manifest
        and every written-row count. The metadata is None for a file whose
        footer cannot be read."""
        import pyarrow.parquet as pq

        for root, _dirs, names in os.walk(out):
            for fn in names:
                if not fn.endswith(".parquet"):
                    continue
                p = os.path.join(root, fn)
                try:
                    md = pq.ParquetFile(p).metadata
                except Exception:
                    md = None
                yield os.path.relpath(p, out), md

    def _write_delete_dir(self, rows: DataFrame) -> tuple[str, int]:
        """Write a position-delete dir from the ``__sg_file``/``__sg_pos``
        coordinates of ``rows`` and return ``(dir, n_rows)`` — the count
        read from the written footers (driver-side, files just written),
        the dir removed again when it came out empty, so the coordinate
        frame is computed once, by the write."""
        ddir = f"deletes-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.path, "data", ddir)
        rows.select(
            F.col("__sg_file").alias("file_path"),
            F.col("__sg_pos").alias("pos"),
        ).write.mode("error").parquet(out)
        n = 0
        for _rel, md in self._footers(out):
            # an unreadable footer's count is unknowable: err nonempty
            n = n + md.num_rows if md is not None else max(n, 1)
        if n == 0:
            self._drop_commit_dir(ddir)
        return ddir, n

    def _write_file_stats(
        self, commit_path: str, col_types: dict[str, str] | None = None
    ) -> int:
        """Record per-file column min/max from the freshly written parquet
        footers into ``_stats.json`` inside the commit dir — the engine's
        manifest, enabling file-level data skipping on read (Iceberg
        manifests' min/max pruning). Cost is O(files in THIS commit) footer
        reads on the driver, the same cost class as Iceberg writing its
        manifest; the underscore name keeps Spark's scans from seeing it.
        Only JSON-representable scalar stats (int/float/str/bool) are kept
        — other types simply don't prune. Returns the commit's total row
        count (summed from the footers the walk opens anyway)."""
        total_rows = 0
        stats: dict[str, dict] = {}
        for rel, md in self._footers(commit_path):
            if md is None:
                stats[rel] = {}
                # row count unknowable for this file: the returned
                # total must err NONEMPTY (callers drop 0-row commits)
                total_rows = max(total_rows, 1)
                continue
            cols: dict[str, list] = {}
            nulls: dict[str, int] = {}
            schema = md.schema
            for ci in range(md.num_columns):
                cpath = schema.column(ci).path
                if "." in cpath:
                    continue  # nested fields don't prune
                mn = mx = None
                ok = True
                all_null = True
                n_nulls: int | None = 0
                try:
                    for rg in range(md.num_row_groups):
                        st = md.row_group(rg).column(ci).statistics
                        if st is not None and st.has_null_count and n_nulls is not None:
                            n_nulls += st.null_count
                        else:
                            n_nulls = None  # any gap: count unknowable
                        if st is None or not st.has_min_max:
                            if st is not None and st.has_null_count and (
                                st.null_count == md.row_group(rg).num_rows
                            ):
                                continue  # all-null row group: no min/max
                            ok = False
                            break
                        all_null = False
                        mn = st.min if mn is None else min(mn, st.min)
                        mx = st.max if mx is None else max(mx, st.max)
                except Exception:
                    # pyarrow cannot decode stats for every physical
                    # type (e.g. some DECIMAL encodings): that column
                    # simply doesn't prune
                    ok = False
                    n_nulls = None
                if ok and n_nulls is not None:
                    # exact per-file null count: lets IS NULL prune
                    # null-free files (min/max alone never could)
                    nulls[cpath] = n_nulls
                if not ok:
                    continue
                if all_null:
                    # no non-null value in the file: any col-vs-literal
                    # comparison is NULL -> file can always be skipped
                    cols[cpath] = [None, None]
                elif isinstance(mn, (int, float, str, bool)) and isinstance(
                    mx, (int, float, str, bool)
                ):
                    cols[cpath] = [mn, mx]
                else:
                    import datetime as _dt

                    # timestamp/date footer stats: store normalized ISO
                    # strings with a "ts" marker — ISO order IS
                    # chronological order, so the read side compares
                    # lexicographically (the most common selective
                    # predicate at scale is a time range)
                    if isinstance(mn, _dt.datetime) and isinstance(mx, _dt.datetime):
                        if mn.tzinfo is not None:
                            mn = mn.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                            mx = mx.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                        cols[cpath] = [
                            mn.isoformat(sep=" "), mx.isoformat(sep=" "), "ts",
                        ]
                    elif isinstance(mn, _dt.date) and isinstance(mx, _dt.date):
                        # distinct marker: DATE comparison semantics
                        # truncate a time-ful literal, so the read side
                        # must not pad these to midnight
                        cols[cpath] = [mn.isoformat(), mx.isoformat(), "d"]
            # identity-partition values live in the dir name, not the
            # footer: record them as degenerate [v, v] ranges so
            # partition predicates prune files too. Hidden-transform
            # dirs are skipped (user predicates never name them) —
            # EXCEPT bucket dirs: a bucket-partitioned column's footer
            # min/max spans ~the full range per file (hash layout), so
            # equality pruning needs the bucket value itself; the read
            # side derives the matching _p_bucket conjunct from the
            # user's equality predicate (Iceberg bucket-transform
            # partition pruning).
            for seg in rel.split(os.sep)[:-1]:
                k, eq, v = seg.partition("=")
                if not eq:
                    continue
                if k.startswith(_HP_PREFIX):
                    if k.startswith(f"{_HP_PREFIX}bucket") and re.fullmatch(
                        r"\d+", v
                    ):
                        cols[k] = [int(v), int(v)]
                    continue
                if v == "__HIVE_DEFAULT_PARTITION__":
                    cols[k] = [None, None]
                else:
                    from urllib.parse import unquote

                    val = unquote(v)
                    # Identity-partition values of temporal columns get
                    # the same "ts"/"d" markers as footer stats —
                    # otherwise a date-partition dir d=2024-01-01 vs a
                    # literal TIMESTAMP '2024-01-01 00:00:00' (Spark
                    # promotes date->timestamp: the row MATCHES) would
                    # be compared lexicographically and wrongly pruned,
                    # corrupting affected-only DELETE/UPDATE/MERGE.
                    ktype = (col_types or {}).get(k, "")
                    if ktype == "date":
                        cols[k] = [val, val, "d"]
                    elif ktype.startswith("timestamp"):
                        # Spark dir names use "YYYY-MM-DD HH:MM:SS[.f]"
                        # (same lexicographic==chronological shape the
                        # "ts" read branch expects); pad a bare date
                        # just in case.
                        tsv = val.replace("T", " ")
                        if re.fullmatch(r"\d{4}-\d{2}-\d{2}", tsv):
                            tsv += " 00:00:00"
                        cols[k] = [tsv, tsv, "ts"]
                    else:
                        cols[k] = [val, val]
            # Reserved per-file metadata keys. A user column LITERALLY
            # named __nulls__/__rows__ already owns its dict entry —
            # never clobber it (r12-end advice: the overwrite broke
            # that column's min/max pruning and fed a non-int into
            # row_count_estimate); for such tables the reserved
            # metadata is simply not recorded (IS NULL pruning and the
            # manifest row count degrade to their always-correct
            # fallbacks for that table only).
            if nulls and "__nulls__" not in cols:
                # per-file null counts for IS NULL pruning
                cols["__nulls__"] = nulls
            # per-file row count: the footer is open anyway, and
            # row_count_estimate sums these instead of re-opening
            # every footer under every commit dir on each advisor
            # pass (the Iceberg total-records idea, at manifest
            # granularity)
            if "__rows__" not in cols:
                cols["__rows__"] = md.num_rows
            stats[rel] = cols
            total_rows += md.num_rows
        tmp = os.path.join(commit_path, "_stats.json.tmp")
        with open(tmp, "w") as f:
            json.dump(stats, f)
        os.replace(tmp, os.path.join(commit_path, "_stats.json"))
        return total_rows

    @_requires("INSERT", "WRITE")
    def append(
        self,
        df: DataFrame,
        snapshot_props: dict | None = None,
        table_props: dict | None = None,
    ) -> int:
        """Append rows; returns new snapshot id. (DataFrameWriterV2.append
        analogue — /root/reference/spark.py:88-89.) ``snapshot_props`` ride
        the same atomic commit (Iceberg snapshot summary); ``table_props``
        update table properties in that same commit (maintenance watermarks
        must move WITH the data they describe — crash-atomic)."""
        meta = self._load_meta()
        commit = self._write_commit_dir(df, meta)
        # Appends rebase: reload under the commit lock and stack the new
        # commit dir on whatever is current NOW — two concurrent appends
        # both land, snapshots stay linear (Iceberg fast-append retry).
        with self._commit_lock():
            meta = self._load_meta()
            cur = self._current_snapshot(meta)
            dirs = (cur["commit_dirs"] if cur else []) + [commit]
            # new data files have no delete entries; existing position
            # deletes keep applying to the files they reference, and
            # equality deletes only to their applies_to dirs (the new
            # commit dir is NOT in any applies_to — appended rows survive,
            # Iceberg's sequence rule)
            snap = self._new_snapshot(
                meta, "append", dirs, snapshot_props, **self._carried(cur)
            )
            if table_props:
                meta.setdefault("properties", {}).update(
                    {str(k): str(v) for k, v in table_props.items()}
                )
            self._commit(meta)
        return snap["id"]

    @_requires("INSERT", "WRITE")
    def overwrite(self, df: DataFrame, table_props: dict | None = None) -> int:
        """Replace table contents (INSERT OVERWRITE / CTAS-rebuild —
        industry-examples/retail.sql:88-100 DROP+CTAS idiom).
        ``table_props`` ride the same atomic commit (see :meth:`append`)."""
        meta = self._load_meta()
        commit = self._write_commit_dir(df, meta)
        return self._commit_rewrite(
            meta.get("current_snapshot_id"), "overwrite", [commit],
            table_props=table_props,
        )["id"]

    @_requires("DELETE", "WRITE")
    def delete_where(self, condition: str, mode: str | None = None) -> int:
        """``DELETE FROM t WHERE condition`` — copy-on-write by default:
        surviving rows are rewritten; prior snapshots remain readable
        (industry-examples/logistics_AI.sql:60; media_ai.sql:49; Iceberg CoW
        delete). ``condition='true'`` clears the table.

        SQL DELETE removes only rows where the predicate is TRUE; rows where
        it evaluates to NULL (e.g. a NULL column compared with ``=``) must
        survive — hence ``IS NOT TRUE``, not ``NOT (...)``.

        Affected-only rewrite (Iceberg CoW file granularity, at commit-dir
        resolution): commit dirs whose file stats PROVE no row matches the
        predicate are carried into the new snapshot untouched; only the
        affected dirs' survivors are rewritten — a selective DELETE on a
        100 TB table rewrites O(affected data), not O(table). Falls back
        to the full rewrite when the predicate has no skippable conjunct.

        ``mode='merge-on-read'`` (or table property
        ``write.delete.mode=merge-on-read`` — the Iceberg v2 knob): no data
        file is rewritten; matching rows' physical coordinates
        (``_metadata.file_path``, ``_metadata.row_index``) are written to a
        position-delete dir the snapshot references, and every read
        anti-joins them out. A small DELETE on a 100 TB table writes
        O(matching rows), not O(affected files); ``compact()`` (or any
        full-rewrite DML) later materializes the deletes away. Prior
        snapshots never reference the new delete dir — time travel still
        sees the rows."""
        meta = self._load_meta()
        if self._dml_mode(meta, "delete", mode) == "copy-on-write":
            return self._rewrite(
                meta, "delete", condition,
                lambda rows: rows.filter(f"({condition}) IS NOT TRUE"),
            )
        return self._merge_on_read(
            meta, "delete", condition,
            lambda live: (live.filter(f"({condition}) IS TRUE"), None),
        )

    @_requires("SELECT")
    def read_with_coords(self, where: str | None = None) -> DataFrame | None:
        """Live rows plus their physical coordinates (``__sg_file``,
        ``__sg_pos``) with ``where`` applied both as file-level min/max
        pruning and as a row filter — the scan side of a caller-driven
        merge-on-read delete (:meth:`delete_positions`). An index CDC
        refresh must VERIFY a matched row set (completeness/exactness
        proofs) before deleting it; reading once with coordinates lets it
        prove its property on the checkpointed result and hand the same
        rows back for deletion instead of paying ``delete_where``'s second
        scan of the same predicate (r14 job-floor collapse). Returns None
        for an empty table or when every file is provably excluded — zero
        matching rows either way.

        The scanned snapshot id is kept in ``self.coords_snapshot_id``:
        :meth:`delete_positions` commits against it, so coordinates can
        never outlive the file set they point into."""
        meta = self._load_meta()
        self.coords_snapshot_id = meta.get("current_snapshot_id")
        snap = self._current_snapshot(meta)
        if snap is None or not snap["commit_dirs"]:
            return None
        live = self._scan(meta, snap, where=where, coords=True)
        if live is None:
            return None
        return live.filter(f"({where}) IS TRUE") if where else live

    @_requires("DELETE", "WRITE")
    def delete_positions(self, coords: DataFrame) -> int:
        """Merge-on-read DELETE of pre-identified physical coordinates:
        ``coords`` holds the ``__sg_file``/``__sg_pos`` columns of rows
        obtained from this handle's last :meth:`read_with_coords`
        (``ValueError`` without them). The commit is bound to the snapshot that
        read scanned: any commit landing in between (an append, a
        compaction or CoW rewrite that would leave the coordinates
        dangling) aborts with :class:`CommitConflictError`, exactly like
        ``delete_where``. Writes one position-delete dir (metadata-only
        snapshot when the frame is empty); prior snapshots never
        reference it."""
        if not hasattr(self, "coords_snapshot_id"):
            raise ValueError(
                f"delete_positions on {self.name}: no read_with_coords on "
                "this handle to bind the coordinates to"
            )
        if not set(_COORDS) <= set(coords.columns):
            raise ValueError(
                f"delete_positions on {self.name}: coords need the "
                "__sg_file/__sg_pos columns read_with_coords returns; got "
                f"{coords.columns}"
            )
        parent = self.coords_snapshot_id
        meta = self._load_meta()
        # fail before writing a delete dir the commit would refuse;
        # _commit_rewrite re-checks under the lock
        if meta.get("current_snapshot_id") != parent:
            raise CommitConflictError(
                f"delete_positions on {self.name}: coordinates were read at "
                f"snapshot {parent}, table is now at "
                f"{meta.get('current_snapshot_id')}; re-read and retry"
            )
        snap = self._current_snapshot(meta)
        if snap is None or not snap["commit_dirs"]:
            return self._commit_rewrite(parent, "delete", [])["id"]
        ddir, n = self._write_delete_dir(coords)
        return self._commit_rewrite(
            parent, "delete", list(snap["commit_dirs"]),
            **self._carried(snap, ddir if n else None),
        )["id"]

    @_requires("UPDATE", "WRITE")
    def update_where(
        self,
        assignments: dict[str, str],
        condition: str = "true",
        mode: str | None = None,
    ) -> int:
        """``UPDATE t SET col = expr[, ...] [WHERE cond]`` — copy-on-write
        (Dremio/Iceberg UPDATE; the DML completion of the reference's
        INSERT/DELETE surface). Only rows where the predicate is TRUE are
        updated (NULL predicate keeps the old row, mirroring
        :meth:`delete_where`); assignment expressions may reference any
        column's pre-update value, and cast to the declared column type.

        Affected-only rewrite, same as :meth:`delete_where`: commit dirs
        whose stats prove no row matches the predicate carry over
        untouched; only affected dirs rewrite — O(affected data) at any
        table size. Unprunable predicates rewrite everything.

        ``mode='merge-on-read'`` (or table property ``write.update.mode``):
        Iceberg v2 MoR UPDATE — matched rows are position-deleted and
        their updated copies appended; untouched data files are never
        rewritten. Cost is O(matching rows) at any table size."""
        meta = self._load_meta()
        mode = self._dml_mode(meta, "update", mode)
        cond = F.expr(condition)
        schema = self._epoch(meta, None, travel=False)[0]
        names = schema.fieldNames() if schema is not None else self.read().columns
        unknown = [c for c in assignments if c not in names]
        if unknown:
            raise ValueError(f"UPDATE {self.name}: unknown columns {unknown}")

        def updated_cols(df: DataFrame):
            cols = []
            for f in df.schema.fields:
                if f.name in assignments:
                    new_val = F.expr(assignments[f.name]).cast(f.dataType)
                    cols.append(
                        F.when(cond, new_val).otherwise(F.col(f.name)).alias(f.name)
                    )
                else:
                    cols.append(F.col(f.name))
            return cols

        if mode == "copy-on-write":
            return self._rewrite(
                meta, "update", condition,
                lambda rows: rows.select(*updated_cols(rows)),
            )

        def plan(live: DataFrame):
            # one pass, reused twice (delete coords + updated copies); the
            # predicate is TRUE on every matched row, so the WHEN(cond) in
            # updated_cols always takes the new value
            matched = live.filter(f"({condition}) IS TRUE").localCheckpoint()
            body = matched.drop(*_COORDS)
            return matched, body.select(*updated_cols(body))

        return self._merge_on_read(meta, "update", condition, plan)

    # ------------------------------------------------------------- reads

    _PRED_CMP_RE = re.compile(
        r"^`?(\w+)`?\s*(=|<=|>=|<|>)\s*(.+)$"
    )

    @staticmethod
    def _sub_outside_literals(text: str, replacements: dict[str, str]) -> str:
        """Apply word-boundary identifier replacements to ``text`` while
        leaving string literals untouched (a WHERE clause like ``name =
        'price'`` must not have the 'price' LITERAL rewritten when the
        price COLUMN was renamed)."""
        if not replacements:
            return text

        def sub(code: str) -> str:
            for new, physical in replacements.items():
                code = re.sub(rf"\b{re.escape(new)}\b", physical, code)
            return code

        return dialect.map_code_regions(text, sub)

    _PRED_IN_RE = re.compile(r"^`?(\w+)`?\s+in\s*\((.*)\)$", re.I | re.S)
    _PRED_BETWEEN_RE = re.compile(
        r"^`?(\w+)`?\s+between\s+(.+?)\s+and\s+(.+)$", re.I | re.S
    )
    _PRED_NOTNULL_RE = re.compile(r"^`?(\w+)`?\s+is\s+not\s+null$", re.I)
    _PRED_ISNULL_RE = re.compile(r"^`?(\w+)`?\s+is\s+null$", re.I)
    # col LIKE 'prefix%' with a WILDCARD-FREE prefix (no %, _, quote, or
    # backslash — Spark's LIKE treats \ as its escape char, so a pattern
    # containing one matches a DIFFERENT literal prefix than the raw
    # characters pruning would compare): the one LIKE shape whose match
    # set is a contiguous string range, so file min/max can prune it.
    # Any other LIKE stays a pure row filter.
    _PRED_LIKE_RE = re.compile(r"^`?(\w+)`?\s+like\s+'([^'%_\\]+)%'$", re.I)

    @staticmethod
    def _parse_literal(lit: str) -> object | None:
        """'string' / int / float / TIMESTAMP-or-DATE-'...' literal, or
        None when not a literal. Typed temporal literals yield their inner
        string — the ts-tagged stats path compares them in ISO order."""
        lit = lit.strip()
        m = re.fullmatch(r"(?:TIMESTAMP|DATE)\s+'([^']*)'", lit, re.I)
        if m:
            return m.group(1)
        if re.fullmatch(r"'[^']*'", lit):
            return lit[1:-1]
        try:
            return int(lit)
        except ValueError:
            try:
                return float(lit)
            except ValueError:
                return None

    @staticmethod
    def _parse_prune_conjuncts(where: str) -> list[tuple[str, str, object]]:
        """Conjuncts usable for min/max skipping, split at depth-0 ANDs:
        ``col op literal``, ``col IN (lit, …)`` (skip a file when EVERY
        list member is outside its range), and ``col BETWEEN a AND b``
        (skip when [a, b] ∩ [min, max] = ∅), plus OR-of-same-column point
        predicates (``k = 1 OR k = 5`` ≡ the IN form) — the most common
        selective filter shapes (clinicdata.sql:230 uses IN,
        healthcare_example.sql:84 uses BETWEEN). Every other conjunct
        shape is ignored for pruning — the full predicate is still applied
        as a row filter, so pruning is only ever an optimization, never a
        semantics change."""
        conjs: list[tuple[str, str, object]] = []
        for part in dialect.split_top(where, "AND"):
            part = dialect.strip_parens(part)
            # OR of same-column point predicates == IN list:
            # (k = 1 OR k = 5) prunes exactly like k IN (1, 5). Checked
            # FIRST because the col-op-literal regex would greedily eat
            # "5 OR k = 9" as one (unparsable) literal.
            or_parts = dialect.split_top(part, "OR")
            if len(or_parts) > 1:
                col0, items = None, []
                for piece in or_parts:
                    mm = LakeTable._PRED_CMP_RE.match(dialect.strip_parens(piece))
                    v = (
                        LakeTable._parse_literal(mm.group(3))
                        if mm and mm.group(2) == "="
                        else None
                    )
                    if v is None or (col0 is not None and mm.group(1) != col0):
                        col0 = None
                        break
                    col0 = mm.group(1)
                    items.append(v)
                if col0 is not None:
                    conjs.append((col0, "in", items))
                continue
            m = LakeTable._PRED_CMP_RE.match(part)
            if m:
                val = LakeTable._parse_literal(m.group(3))
                if val is not None:
                    conjs.append((m.group(1), m.group(2), val))
                continue
            m = LakeTable._PRED_IN_RE.match(part)
            if m:
                items = [
                    LakeTable._parse_literal(x)
                    for x in dialect.split_top(m.group(2), ",")
                ]
                if items and all(v is not None for v in items):
                    conjs.append((m.group(1), "in", items))
                continue
            m = LakeTable._PRED_BETWEEN_RE.match(part)
            if m:
                lo = LakeTable._parse_literal(m.group(2))
                hi = LakeTable._parse_literal(m.group(3))
                if lo is not None and hi is not None:
                    conjs.append((m.group(1), "between", (lo, hi)))
                continue
            m = LakeTable._PRED_NOTNULL_RE.match(part)
            if m:
                # IS NOT NULL prunes files whose stats record an all-NULL
                # column (the [None, None] range) — the common "keep only
                # enriched rows" scan skips never-enriched files outright
                conjs.append((m.group(1), "notnull", None))
                continue
            m = LakeTable._PRED_ISNULL_RE.match(part)
            if m:
                # IS NULL prunes files whose recorded null COUNT is zero
                # (footer null_count, stored under the reserved __nulls__
                # key) — min/max alone could never prove null-absence
                conjs.append((m.group(1), "isnull", None))
                continue
            m = LakeTable._PRED_LIKE_RE.match(part)
            if m:
                # prefix search: the signature query on a truncate(W, col)
                # string layout (Iceberg hidden partitioning,
                # readme.md:199-224) — each file owns a tight prefix range,
                # so LIKE 'p%' prunes to ~1/N files
                conjs.append((m.group(1), "prefix", m.group(2)))
                continue
        return conjs

    @staticmethod
    def _file_may_match(cols: dict, conj: tuple[str, str, object]) -> bool:
        col, op, val = conj
        if op == "in":
            # the file may match iff ANY list member may equal a row
            return any(
                LakeTable._file_may_match(cols, (col, "=", v)) for v in val
            )
        if op == "between":
            # [lo, hi] must intersect [min, max]: col >= lo AND col <= hi
            lo, hi = val
            return LakeTable._file_may_match(
                cols, (col, ">=", lo)
            ) and LakeTable._file_may_match(cols, (col, "<=", hi))
        if op == "isnull":
            # prune only when the file's exact null count is recorded AND
            # zero; a column absent from the file entirely (pre-evolution
            # commit) reads as NULL -> always keep. The reserved-key entry
            # may be a user column's [min, max] stats instead of the null
            # dict (see _write_stats): anything non-dict means "unknown".
            nd = cols.get("__nulls__")
            nn = nd.get(col) if isinstance(nd, dict) else None
            return nn != 0
        rng = cols.get(col)
        if rng is None or not isinstance(rng, (list, tuple)) or len(rng) < 2:
            return True  # no (usable) stats for this column: cannot prune
        marker = rng[2] if len(rng) > 2 else None
        mn, mx = rng[0], rng[1]
        if op == "notnull":
            # only an all-NULL file ([None, None] stats) provably fails
            # IS NOT NULL; a file WITH a min/max may still hold NULLs
            return not (mn is None and mx is None)
        if mn is None:
            return False  # file is all-NULL in col: col op literal never TRUE
        if op == "prefix":
            # col LIKE 'p%': Spark evaluates LIKE on the STRING form of the
            # column, so only genuine string stats order the same way the
            # row filter compares — numeric/temporal stats keep the file.
            if marker is not None or not isinstance(mn, str) or not isinstance(val, str):
                return True
            # every match is >= p and its first len(p) chars equal p, so
            # [mn, mx] intersects the match set iff mx >= p and
            # mn's prefix <= p
            return mx >= val and mn[: len(val)] <= val
        def rng_op(mn, mx, val) -> bool:
            if op == "=":
                return mn <= val <= mx
            if op == "<":
                return mn < val
            if op == "<=":
                return mn <= val
            if op == ">":
                return mx > val
            if op == ">=":
                return mx >= val
            return True  # pragma: no cover - ops filtered by the parser

        if marker in ("ts", "d"):
            # temporal stats are normalized ISO strings (chronological ==
            # lexicographic). Prune only for fraction-free ISO literals —
            # Spark casts the literal to the column type, so: TIMESTAMP
            # columns pad a date-only literal to midnight; DATE columns
            # TRUNCATE a time-ful literal, so only date-only literals
            # compare safely there.
            if not isinstance(val, str):
                return True
            m = re.fullmatch(
                r"(\d{4}-\d{2}-\d{2})([ T]\d{2}:\d{2}(:\d{2})?)?", val.strip()
            )
            if m is None:
                return True
            v = val.strip().replace("T", " ")
            if marker == "d":
                if m.group(2) is not None:
                    return True  # DATE vs time-ful literal: don't risk it
            else:
                if m.group(2) is None:
                    v = v + " 00:00:00"
                elif m.group(3) is None:
                    v = v + ":00"
            return rng_op(mn, mx, v)
        numeric = isinstance(val, (int, float)) and not isinstance(val, bool)
        stats_numeric = isinstance(mn, (int, float)) and not isinstance(mn, bool)
        if numeric != stats_numeric:
            # Partition-dir stats are strings even for numeric columns, and
            # they are always degenerate [v, v] ranges. ONLY such degenerate
            # ranges may be coerced to float: a single value compares under
            # the same cast semantics Spark applies to the row filter
            # (string vs number -> double). A footer min/max RANGE on a
            # string column is LEXICOGRAPHIC (min='10' > max='9' numerically)
            # and coercing it would prune files that do match — so for a
            # genuine string range vs a numeric literal, never prune.
            if numeric and isinstance(mn, str) and mn == mx:
                # integer literal vs integer-shaped stat: compare EXACTLY —
                # a widened BIGINT column can carry values beyond 2^53 where
                # the float round-trip collapses neighbours and a strict
                # inequality would prune a matching file
                if isinstance(val, int) and re.fullmatch(r"[+-]?\d+", mn.strip()):
                    mn = mx = int(mn)
                else:
                    try:
                        mn, mx = float(mn), float(mx)
                    except ValueError:
                        return True
            else:
                return True
        elif not numeric and isinstance(mn, str) and mn == mx:
            # Unmarked degenerate stat vs a temporal-SHAPED literal (or
            # vice versa): pre-marker commits recorded date/timestamp
            # partition dirs as plain strings. When either side looks like
            # a date/timestamp and their text precision differs (one has a
            # time component, the other doesn't), Spark's cast semantics —
            # not lexicographic order — decide the row filter, so never
            # prune.
            _tshape = r"\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2})?(\.\d+)?)?"
            sm = re.fullmatch(_tshape, mn.strip())
            vm = re.fullmatch(_tshape, val.strip())
            if (sm is not None or vm is not None) and (
                sm is None
                or vm is None
                or (sm.group(1) is None) != (vm.group(1) is None)
            ):
                return True
            # String literal against a DEGENERATE string range: the stat
            # may be a stringified numeric partition value (k=-2 dirs), and
            # Spark compares a numeric column vs a string literal
            # NUMERICALLY ('-2' < '-1' numerically but not
            # lexicographically). The column's true type is unknowable from
            # the stat alone, so keep the file if EITHER interpretation
            # could match.
            try:
                if rng_op(float(mn), float(mx), float(val)):
                    return True
            except ValueError:
                pass
            return rng_op(mn, mx, val)
        if not numeric and not isinstance(mn, str):
            return True
        return rng_op(mn, mx, val)

    def _bucket_conjuncts(
        self, conjs: list[tuple[str, str, object]]
    ) -> list[tuple[str, str, object]]:
        """Iceberg bucket-transform partition pruning: an equality / IN
        conjunct on a ``bucket(N, col)``-partitioned source column implies
        the row's bucket, so derive the hidden ``_p_bucketN_col``
        conjunct and let the stats pass drop every other bucket's files
        (~1/N of the table at any size — the key-lookup shape footer
        min/max can never prune under a hash layout). The literal is
        hashed BY SPARK in one 1-row local job, cast to the column's
        declared type first, so the bucket matches the write side's
        ``pmod(hash(col), N)`` exactly by construction; any evaluation
        hiccup returns no conjuncts (pruning is only ever an
        optimization)."""
        meta = self._load_meta()
        specs = []
        for spec in meta.get("partition_by") or []:
            pm = _PARAM_TRANSFORM_RE.match(spec)
            if pm and pm.group(1) == "bucket":
                specs.append(
                    (
                        pm.group(3),
                        int(pm.group(2)),
                        f"{_HP_PREFIX}bucket{pm.group(2)}_{pm.group(3)}",
                    )
                )
        if not specs:
            return []
        types: dict[str, str] = {}
        for f in (meta.get("schema") or {}).get("fields", []):
            if isinstance(f.get("type"), str):
                types[f["name"]] = f["type"]
        wanted = []
        for col, n, phys in specs:
            for c in conjs:
                if c[0] != col or c[1] not in ("=", "in"):
                    continue
                vals = list(c[2]) if c[1] == "in" else [c[2]]
                if any(v is None or not isinstance(v, (int, float, str)) for v in vals):
                    continue
                dtype = types.get(col)
                # A numeric literal against a DECLARED-string column is a
                # cross-type compare: Spark's row filter casts the COLUMN
                # to numeric (row '05' matches 5), but the derived bucket
                # would be hash('5') ≠ hash('05') — files holding '05'
                # would be wrongly pruned. Pruning must stay a pure
                # optimization, so skip derivation for that shape (the
                # numeric-declared column with a string literal is safe:
                # the cast below normalizes the literal to the stored
                # value before hashing).
                if (
                    dtype
                    and dtype.lower() in ("string", "varchar", "char")
                    and any(not isinstance(v, str) for v in vals)
                ):
                    continue
                wanted.append((phys, n, dtype, vals))
        if not wanted:
            return []
        exprs = []
        for i, (_phys, n, dtype, vals) in enumerate(wanted):
            for j, v in enumerate(vals):
                lit = F.lit(v)
                if dtype:
                    lit = lit.cast(dtype)
                exprs.append(F.pmod(F.hash(lit), F.lit(n)).alias(f"b_{i}_{j}"))
        try:
            row = self.spark.range(1).select(*exprs).collect()[0]
        except Exception:
            return []
        out: list[tuple[str, str, object]] = []
        for i, (phys, _n, _dtype, vals) in enumerate(wanted):
            buckets = sorted(
                {row[f"b_{i}_{j}"] for j in range(len(vals))} - {None}
            )
            if not buckets:
                continue
            out.append(
                (phys, "=", buckets[0])
                if len(buckets) == 1
                else (phys, "in", buckets)
            )
        return out

    def _prune_file_lists(
        self,
        dirs: list[str],
        where: str,
        skip_isnull_cols: frozenset[str] | set[str] = frozenset(),
    ) -> list[list[str] | None] | None:
        """Per-dir surviving file lists for ``where`` (None entry = keep the
        whole dir: no stats manifest). Returns None when the predicate has
        no skippable conjunct at all. Metadata-only: reads each commit's
        small ``_stats.json``, never a parquet footer.

        ``skip_isnull_cols``: columns whose IS NULL conjuncts must not
        prune — a dropped-then-re-added column's pre-drop files carry
        PHYSICAL values (null_count 0) while the LOGICAL value is NULL
        (tombstones), so the stats would wrongly prove "no NULL here".
        Every other conjunct shape stays sound on stale stats (NULL never
        satisfies a comparison, and tombstones only turn values INTO
        NULLs, never the reverse)."""
        conjs = self._parse_prune_conjuncts(where)
        if skip_isnull_cols:
            conjs = [
                c for c in conjs
                if not (c[1] == "isnull" and c[0] in skip_isnull_cols)
            ]
        if not conjs:
            return None
        try:
            tz_utc = (
                self.spark.conf.get("spark.sql.session.timeZone", "") == "UTC"
            )
        except Exception:
            tz_utc = False
        if not tz_utc:
            # "ts" stats are UTC but Spark evaluates TIMESTAMP literals in
            # session-local time — temporal conjuncts can't prune safely.
            # Temporal-SHAPED string literals are also dropped: they may
            # target a timestamp column under the same cast semantics.
            _tshape = re.compile(
                r"\d{4}-\d{2}-\d{2}([ T]\d{2}:\d{2}(:\d{2})?(\.\d+)?)?"
            )

            def _tsless(c) -> bool:
                vals = (
                    c[2] if isinstance(c[2], (list, tuple)) else [c[2]]
                )
                return not any(
                    isinstance(v, str) and _tshape.fullmatch(v.strip())
                    for v in vals
                )

            conjs = [c for c in conjs if _tsless(c)]
            if not conjs:
                return None
        conjs = conjs + self._bucket_conjuncts(conjs)
        out: list[list[str] | None] = []
        for d in dirs:
            sp = os.path.join(d, "_stats.json")
            if not os.path.exists(sp):
                out.append(None)  # pre-stats commit: keep everything
                continue
            with open(sp) as f:
                stats = json.load(f)
            out.append(
                [
                    os.path.join(d, rel)
                    for rel, cols in stats.items()
                    if all(self._file_may_match(cols, c) for c in conjs)
                ]
            )
        return out

    def _static_read_schema(
        self, meta: dict, schema: T.StructType | None,
        dirs: list[str] | None = None,
    ) -> T.StructType | None:
        """The exact per-file read schema, when it is provably static:
        every commit dir recorded its PHYSICAL write schema
        (``_schema.json``, written beside ``_stats.json``) and they all
        agree, the table never evolved (``schema_log`` is written by every
        ALTER before it mutates, so renames/drops/type changes all leave a
        trail), and there are no hidden transform-partition columns (their
        values live in dir names outside any schema). Identity-partition
        columns are appended from the DECLARED schema — Spark fills them
        from the dir names under an explicit schema exactly as discovery
        would.

        Why: a schema-less ``mergeSchema`` read runs a footer-inference
        JOB per commit dir on EVERY read — measured r14 as 3 of the 13
        jobs in one ANN serve and the growth term in the CDC refresh job
        counts (more commit dirs → more inference jobs per read). The
        recorded physical schema (not the declared one — an append may
        legally write wider types, e.g. INT64 under a declared INT) pins
        the read without touching evolution semantics; any dir missing
        the record (pre-r14 commits — the next compaction rewrites them)
        or disagreeing keeps the merge-inference path unchanged."""
        if schema is None or meta.get("schema_log") or not dirs:
            return None
        for spec in meta.get("partition_by", []):
            if _TRANSFORM_RE.match(spec) or _PARAM_TRANSFORM_RE.match(spec):
                return None
        phys_json = None
        for d in dirs:
            try:
                with open(os.path.join(d, "_schema.json")) as f:
                    got = json.load(f)
            except (OSError, ValueError):
                return None
            if phys_json is None:
                phys_json = got
            elif got != phys_json:
                return None
        try:
            fields = list(T.StructType.fromJson(phys_json).fields)
        except Exception:
            return None
        have = {f.name for f in fields}
        for phys, _spec in self._partition_cols(meta):
            if phys not in have:
                by_name = {f.name: f for f in schema.fields}
                if phys not in by_name:
                    return None
                fields.append(by_name[phys])
        return T.StructType(fields)

    def _read_dirs(
        self,
        dirs: list[str],
        file_lists: list[list[str] | None] | None,
        filters: list[str | None],
        schema: T.StructType | None,
        aliases: dict[str, str],
        lineage: dict,
        tombstones: dict[str, set[str]],
        pinned: T.StructType | None,
        with_pos: bool,
    ) -> DataFrame | None:
        """Scan a list of commit dirs as one DataFrame — the raw union
        under :meth:`_scan`, its only caller.

        ``with_pos`` attaches each row's physical identity —
        ``_metadata.file_path`` / ``_metadata.row_index`` as ``__sg_file``
        / ``__sg_pos`` — the coordinates Iceberg v2 position-delete files
        key on; they must be captured per-scan, before the union.

        Each commit is read with itself as basePath (its partition dirs
        become columns) and the commits union by name — sibling commit dirs
        under one basePath would make Spark's partition discovery fail with
        CONFLICTING_DIRECTORY_STRUCTURES, and per-commit scans keep
        partition pruning intact per scan. ``mergeSchema`` + missing-column
        union cover commits written before an ALTER TABLE ADD COLUMN
        (Iceberg schema-evolution read semantics, SURVEY §1.3). Commit
        counts stay small because ``compact()`` folds history; at 100 TB a
        scan is a union of a few large partitioned scans.

        ``file_lists`` (from :meth:`_prune_file_lists`) restricts each dir
        to its min/max-surviving files; a None entry keeps the whole dir,
        an empty list drops it. Returns None when every file was pruned."""
        parts = []
        for i, d in enumerate(dirs):
            if pinned is not None:
                # static schema: skip the per-dir mergeSchema footer-
                # inference job (see _static_read_schema)
                rd = self.spark.read.schema(pinned).option("basePath", d)
            else:
                rd = self.spark.read.option("basePath", d).option(
                    "mergeSchema", "true"
                )
            files = None if file_lists is None else file_lists[i]
            if files is None:
                part = rd.parquet(d)
            elif files:
                part = rd.parquet(*files)
            else:
                continue
            if with_pos:
                part = part.select(
                    "*",
                    F.col("_metadata.file_path").alias("__sg_file"),
                    F.col("_metadata.row_index").alias("__sg_pos"),
                )
            if tombstones:
                # a dropped-then-re-added column: this dir's physical data
                # predates the drop — stale, must read as NULL (the union's
                # allowMissingColumns fills it)
                stale = [
                    c for c, dset in tombstones.items()
                    if d in dset and c in part.columns
                ]
                if stale:
                    part = part.drop(*stale)
            excl = filters[i]
            if excl:
                # partition-scoped compaction rewrote this dir's matching
                # rows elsewhere: exclude them here (IS NOT TRUE keeps
                # NULL-predicate rows, mirroring delete semantics). The
                # filter text uses CURRENT column names — a dir written
                # before an ADD/RENAME COLUMN may not resolve them, so
                # normalize this dir to the declared schema first (typed
                # NULLs for never-written columns, renamed columns surfaced
                # under their current name) instead of raising
                # UNRESOLVED_COLUMN and making the table unreadable.
                if schema is not None:
                    present = set(part.columns)
                    for f in schema.fields:
                        # a filter may have been recorded under ANY
                        # generation's name (current, intermediate rename,
                        # or original physical): make every lineage name
                        # resolve to the dir's canonical value (the final
                        # declared-schema projection drops the extras)
                        canon = self._lineage_value(
                            f.name, aliases, lineage, present
                        ).cast(f.dataType)
                        for n in self._lineage_names(f.name, aliases, lineage):
                            if n not in present:
                                part = part.withColumn(n, canon)
                part = part.filter(f"({excl}) IS NOT TRUE")
            parts.append(part)
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p, allowMissingColumns=True)
        return df

    @_requires("SELECT")
    def read(
        self,
        snapshot_id: int | None = None,
        as_of_ms: int | None = None,
        where: str | None = None,
    ) -> DataFrame:
        """Current or time-travel read (``VERSION AS OF`` / ``TIMESTAMP AS
        OF`` — readme.md:357-370). Derived hidden-partition columns are
        dropped; partition pruning still applies because they are parquet
        partition dirs (filter on the source column prunes via min/max row-
        group stats; filter on the transform prunes dirs).

        ``where`` applies the predicate AND enables file-level min/max data
        skipping against each commit's ``_stats.json`` manifest (Iceberg
        manifest pruning): simple ``col op literal`` conjuncts drop whole
        files before Spark ever lists them — at 100 TB the difference
        between touching one file and one partition. Planning cost is one
        small JSON per commit dir; results are identical to
        ``read().filter(where)`` by construction (pruning only removes
        files whose stats PROVE no row can satisfy the conjuncts)."""
        meta = self._load_meta()
        snaps = meta["snapshots"]
        if as_of_ms is not None:
            eligible = [s for s in snaps if s["ts_ms"] <= as_of_ms]
            if not eligible:
                raise ValueError(f"no snapshot of {self.name} at or before {as_of_ms}")
            snap = eligible[-1]
        elif snapshot_id is not None:
            by_id = {s["id"]: s for s in snaps}
            if snapshot_id not in by_id:
                raise ValueError(f"unknown snapshot {snapshot_id} for {self.name}")
            snap = by_id[snapshot_id]
        else:
            snap = self._current_snapshot(meta)
        travel = snapshot_id is not None or as_of_ms is not None
        if snap is None or not snap["commit_dirs"]:
            schema = self._epoch(meta, snap, travel)[0]
            if schema is None:
                raise ValueError(f"table {self.name} is empty and has no declared schema")
            return local_frame(self.spark, [], schema)
        df = self._scan(meta, snap, where=where, travel=travel)
        if df is None:
            # every file provably excluded: empty result, correct schema
            df = self._scan(meta, snap, travel=travel, deletes=False).limit(0)
        if where is not None:
            df = df.filter(where)
        return df

    def _epoch(
        self, meta: dict, snap: dict | None, travel: bool
    ) -> tuple[T.StructType | None, dict, dict]:
        """``(schema, aliases, lineage)`` governing a read of ``snap``. Time
        travel reads under the schema epoch the snapshot was committed with
        (Iceberg per-snapshot schema-id); every other read uses the current
        schema."""
        hist = self._schema_entry_at(meta, snap["id"]) if travel and snap else None
        if hist is not None:
            schema_json = hist.get("schema")
            aliases, lineage = hist.get("aliases", {}), hist.get("lineage", {})
        else:
            schema_json = meta.get("schema")
            aliases = meta.get("column_aliases", {})
            lineage = meta.get("column_lineage", {})
        schema = T.StructType.fromJson(schema_json) if schema_json else None
        return schema, aliases, lineage

    def _scan(
        self,
        meta: dict,
        snap: dict,
        rel_dirs: list[str] | None = None,
        where: str | None = None,
        travel: bool = False,
        deletes: bool = True,
        coords: bool = False,
    ) -> DataFrame | None:
        """The one snapshot scan: ``snap``'s commit dirs (or the subset
        ``rel_dirs``) as a frame in the governing schema (:meth:`_epoch`),
        with drop tombstones, commit filters normalised through the rename
        lineage, the pinned per-file schema (:meth:`_static_read_schema`)
        and — when ``where`` is given — min/max file skipping. Then the
        snapshot's equality and position deletes (unless ``deletes`` is
        False) and the projection onto the schema.

        ``where`` only prunes files; callers apply it as a row filter
        themselves (a DML scan filters ``IS TRUE``, ``read`` plainly).
        ``coords`` keeps each row's physical coordinates (``__sg_file``,
        ``__sg_pos``) — what position deletes key on. Returns None when
        every file is provably excluded."""
        schema, aliases, lineage = self._epoch(meta, snap, travel)
        rel = snap["commit_dirs"] if rel_dirs is None else rel_dirs
        dirs = [os.path.join(self.path, "data", d) for d in rel]
        file_lists = None
        if where is not None:
            # resolve a renamed column back to its physical name for the
            # stats lookup (stats are recorded under the written name)
            file_lists = self._prune_file_lists(
                dirs, self._sub_outside_literals(where, aliases),
                skip_isnull_cols=set(meta.get("column_tombstones", {})),
            )
        cf = snap.get("commit_filters", {})
        del_dirs = snap.get("delete_dirs", []) if deletes else []
        eq_entries = snap.get("eq_deletes", []) if deletes else []
        with_pos = coords or bool(del_dirs) or bool(eq_entries)
        df = self._read_dirs(
            dirs, file_lists, [cf.get(d) for d in rel], schema, aliases,
            lineage,
            self._tombstoned_dirs(meta, schema, snap["id"] if travel else None),
            self._static_read_schema(meta, schema, dirs),
            with_pos,
        )
        if df is None:
            return None
        # both only remove rows, so the order is semantically free;
        # equality deletes need the pre-projection data columns
        if eq_entries:
            df = self._apply_equality_deletes(df, eq_entries, meta)
        if del_dirs:
            df = self._apply_position_deletes(df, del_dirs)
        if with_pos and not coords:
            df = df.drop(*_COORDS)
        return self._finalize_read(
            df, schema, aliases, lineage,
            keep=list(_COORDS) if coords else None,
        )

    def _apply_position_deletes(self, df: DataFrame, rel_dirs: list[str]) -> DataFrame:
        """Anti-join the snapshot's position-delete files (Iceberg v2
        merge-on-read): each delete row is a (file_path, row_index) pair
        naming one physical row; ``df`` carries ``__sg_file``/``__sg_pos``
        and keeps them. At scale the delete set is small relative to data
        (that's why MoR was chosen over CoW) — AQE broadcasts it; the data
        side stays a pure scan, no rewrite amplification."""
        paths = [os.path.join(self.path, "data", d) for d in rel_dirs]
        dels = self.spark.read.parquet(*paths).select(
            F.col("file_path").alias("__sg_file"),
            F.col("pos").alias("__sg_pos"),
        )
        return df.join(dels, list(_COORDS), "left_anti")

    def _apply_equality_deletes(
        self, df: DataFrame, entries: list[dict], meta: dict | None = None
    ) -> DataFrame:
        """Anti-join the snapshot's EQUALITY-delete files (Iceberg v2): each
        entry's parquet dir holds key tuples (physical column names, so
        later renames don't break them); a data row is removed when its key
        null-safe-equals a delete row AND its commit dir is in the entry's
        ``applies_to`` (data written before the delete — the sequence rule).
        One hash anti-join per entry; the delete side is the small side by
        design (one upsert batch of keys) and deduped before the join.
        ``compact()`` / any full-rewrite DML folds the entries away, so the
        chain never grows past the maintenance cadence. Expects ``df`` to
        carry ``__sg_file``; leaves it in place for the caller.

        ``df`` is the PRE-finalize union, where a renamed column's value
        rides under the OLD physical name in pre-rename dirs and under the
        CURRENT name in post-rename dirs (missing side NULL) — so each
        key compares against the same {current, physical} COALESCE lineage
        that ``_finalize_read`` uses, never a single raw column. A key
        column no data file contains yet (added, never written) is a typed
        NULL — delete rows with NULL keys match it (null-safe contract)."""
        aliases = (meta or {}).get("column_aliases", {})
        lineage = (meta or {}).get("column_lineage", {})
        phys_to_current = {v: k for k, v in aliases.items()}
        # _metadata.file_path is an absolute file URI — anchor the commit-
        # dir extraction on the table's ABSOLUTE data root (a relative
        # self.path would silently match nothing and skip every delete)
        data_root = os.path.abspath(self.path).rstrip("/") + "/data/"
        dir_expr = F.regexp_extract(
            F.col("__sg_file"), re.escape(data_root) + "([^/]+)/", 1
        )
        df = df.withColumn("__sg_dir", dir_expr)
        for i, e in enumerate(entries):
            applies = list(e.get("applies_to", []))
            if not applies:
                continue
            dels = self.spark.read.parquet(
                os.path.join(self.path, "data", e["dir"])
            )
            dels = dels.select(
                *[F.col(c).alias(f"__eq{i}_{c}") for c in e["cols"]]
            ).dropDuplicates()
            cond = F.col("__sg_dir").isin(applies)
            for c in e["cols"]:
                # c is the ORIGINAL physical name; a renamed column's data
                # may ride under the current name or any intermediate —
                # the same full lineage _finalize_read coalesces
                cur = phys_to_current.get(c)
                names = (
                    self._lineage_names(cur, aliases, lineage)
                    if cur is not None
                    else [c]
                )
                present = [n for n in names if n in df.columns]
                if present:
                    key = F.coalesce(*[F.col(n) for n in present])
                else:
                    # column added to the schema but not yet in any data
                    # file: every row's value IS NULL for it
                    key = F.lit(None).cast(
                        dels.schema[f"__eq{i}_{c}"].dataType
                    )
                cond = cond & key.eqNullSafe(F.col(f"__eq{i}_{c}"))
            df = df.join(dels, on=cond, how="left_anti")
        return df.drop("__sg_dir")

    @staticmethod
    def _lineage_names(
        current: str, aliases: dict, lineage: dict
    ) -> list[str]:
        """Every name this logical column was ever written under, newest-
        first: the current name, then the recorded rename lineage (which
        ends at the original physical name). Every read path reaches it
        through the one snapshot scan (:meth:`_scan`: commit-filter
        normalisation, equality-delete keys, the final projection), plus
        ``read_changes``' epoch alignment — so they cannot disagree on a
        column's generations."""
        physical = aliases.get(current)
        names: list[str] = []
        seen: set = set()
        for n in [current] + lineage.get(
            current, [physical] if physical else []
        ):
            if n is not None and n not in seen:
                seen.add(n)
                names.append(n)
        return names

    @classmethod
    def _lineage_value(
        cls, current: str, aliases: dict, lineage: dict, present
    ):
        """The logical column's value in a frame with columns ``present``:
        the coalesce of every generation's name the frame carries, NULL
        when it carries none."""
        hits = [
            n for n in cls._lineage_names(current, aliases, lineage)
            if n in present
        ]
        if len(hits) > 1:
            return F.coalesce(*[F.col(n) for n in hits])
        return F.col(hits[0]) if hits else F.lit(None)

    def _finalize_read(
        self,
        df: DataFrame,
        schema: T.StructType | None,
        aliases: dict[str, str],
        lineage: dict,
        keep: list[str] | None = None,
    ) -> DataFrame:
        """Project a raw commit-dir union onto the governing schema (current
        or, for time travel, the snapshot's epoch): column order + types
        govern; columns no data file has yet read as typed NULLs; renamed
        columns read their pre-rename physical name from old commits;
        hidden-partition columns drop. ``keep`` carries named service
        columns (e.g. the __sg_file/__sg_pos row coordinates) through the
        schema projection. A scan already in the governing shape (same
        names, order and types, no field metadata, no other generation of
        any column, no hidden-partition column) is returned as is."""
        if schema is not None:
            scanned = df.schema.fields
            present = {f.name for f in scanned}
            extra = [c for c in (keep or []) if c in present]
            names = [f.name for f in schema.fields]
            if (
                [f.name for f in scanned] == names + extra
                and [(f.dataType, f.metadata) for f in scanned[: len(names)]]
                == [(f.dataType, {}) for f in schema.fields]
                and all(
                    [n for n in self._lineage_names(c, aliases, lineage)
                     if n in present] == [c]
                    for c in names
                )
            ):
                return df
            cols = [
                self._lineage_value(f.name, aliases, lineage, present)
                .cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
            return df.select(*cols, *extra)
        if any(c.startswith(_HP_PREFIX) for c in df.columns):
            return df.select(*[c for c in df.columns if not c.startswith(_HP_PREFIX)])
        return df

    def _rewrite(
        self,
        meta: dict,
        operation: str,
        condition: str | None,
        transform,
        props: dict | None = None,
        inserts: bool = False,
    ) -> int:
        """The one copy-on-write rewrite behind DELETE / UPDATE / MERGE:
        ``transform`` maps the rows in play to the rows to write; the
        result is written once, counted from its footers, and an empty
        result writes no dir.

        Affected-only (Iceberg CoW file granularity at commit-dir
        resolution): a commit dir where ``condition``'s file stats prove NO
        file may match holds only rows the DML leaves alone — it carries
        into the new snapshot untouched, with its commit filter, and only
        the affected dirs are read and rewritten: O(affected data) at any
        table size. ``inserts`` says the transform adds rows of its own
        (MERGE's inserts), so it runs even when no dir is affected. The
        whole table is read and rewritten instead when ``condition`` is
        None or has no skippable conjunct, when no dir is untouched, and
        while merge-on-read deletes are outstanding: carrying untouched
        dirs while dropping the entries would resurrect deleted rows, and
        the full rewrite (via ``read()``, deletes applied) materialises
        them away — the Iceberg CoW-after-MoR contract."""
        parent = meta.get("current_snapshot_id")
        snap = self._current_snapshot(meta)
        untouched: list[str] = []
        if (
            condition is not None
            and snap
            and snap["commit_dirs"]
            and not snap.get("delete_dirs")
            and not snap.get("eq_deletes")
        ):
            file_lists = self._prune_file_lists(
                [os.path.join(self.path, "data", d) for d in snap["commit_dirs"]],
                self._sub_outside_literals(
                    condition, meta.get("column_aliases", {})
                ),
                skip_isnull_cols=set(meta.get("column_tombstones", {})),
            )
            untouched = [
                d for d, fl in zip(snap["commit_dirs"], file_lists or [])
                if fl == []
            ]
        new_dirs, keep_filters, rows = list(untouched), {}, None
        if untouched:
            kept = set(untouched)
            keep_filters = {
                d: f for d, f in snap.get("commit_filters", {}).items()
                if d in kept
            }
            affected = [d for d in snap["commit_dirs"] if d not in kept]
            if affected:
                rows = transform(self._scan(meta, snap, rel_dirs=affected))
            elif inserts:
                rows = transform(self.read().limit(0))
        else:
            rows = transform(self.read())
        if rows is not None:
            commit, n = self._write_commit_dir_counted(rows, meta)
            if n:
                new_dirs.append(commit)
            else:
                self._drop_commit_dir(commit)
        return self._commit_rewrite(
            parent, operation, new_dirs, props=props,
            commit_filters=keep_filters or None,
        )["id"]

    def _merge_on_read(
        self,
        meta: dict,
        operation: str,
        condition: str | None,
        plan,
        props: dict | None = None,
        inserts: bool = False,
    ) -> int:
        """The one merge-on-read write behind DELETE / UPDATE / MERGE, the
        twin of :meth:`_rewrite` (Iceberg v2 MoR): no data file is
        rewritten. ``plan`` maps the live rows in play, with coordinates
        (``__sg_file``, ``__sg_pos``), to ``(doomed, added)``: the rows to
        position-delete and the rows to append (None: none). Each is
        written once and counted from its footers; an empty one writes no
        dir, so a DML that matched nothing is metadata-only. The parent's
        data files and deletes all carry over.

        ``condition`` prunes the coordinate scan by file stats (None: no
        pruning). With no file in play nothing is deleted, and the plan
        runs over an empty frame with the target schema only when
        ``inserts`` says it adds rows of its own (MERGE's inserts);
        otherwise the added rows, the updated copies, are written only
        when something was deleted."""
        parent = meta.get("current_snapshot_id")
        snap = self._current_snapshot(meta)
        dirs = list(snap["commit_dirs"]) if snap else []
        live = self._scan(meta, snap, where=condition, coords=True) if dirs else None
        ddir, n = None, 0
        if live is not None or inserts:
            doomed, added = plan(
                live if live is not None
                else self.read().limit(0).select(
                    "*",
                    F.lit(None).cast("string").alias("__sg_file"),
                    F.lit(None).cast("long").alias("__sg_pos"),
                )
            )
            if live is not None:
                ddir, n = self._write_delete_dir(doomed)
            if added is not None and (n or inserts):
                commit, rows = self._write_commit_dir_counted(added, meta)
                if rows:
                    dirs.append(commit)
                else:
                    self._drop_commit_dir(commit)
        return self._commit_rewrite(
            parent, operation, dirs, props=props,
            **self._carried(snap, ddir if n else None),
        )["id"]

    def _source_key_range_condition(
        self, source: DataFrame, pairs: list[tuple[str, str]]
    ) -> str | None:
        """A target-side predicate bounding which target rows COULD match
        any source row on the merge equi-keys: AND of ``tcol BETWEEN
        min(scol) AND max(scol)``. One narrow agg over the source; None
        when a bound isn't a pruning-friendly literal (caller skips the
        optimization). An empty source yields all-NULL bounds -> the
        always-false predicate ``1 = 0`` (nothing can match)."""
        aggs = []
        for i, (_tc, sc) in enumerate(pairs):
            aggs += [F.min(sc).alias(f"__mn{i}"), F.max(sc).alias(f"__mx{i}")]
        row = source.agg(*aggs).first()

        def lit(v) -> str | None:
            if isinstance(v, bool) or not isinstance(v, (int, float, str)):
                return None
            if isinstance(v, str):
                return None if "'" in v else f"'{v}'"
            if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
                # a single NaN key makes max() NaN and BETWEEN .. NaN is
                # never TRUE: every dir would be classed "untouched" and
                # matched target rows would survive alongside the upserted
                # source rows. Skip the optimization entirely.
                return None
            return repr(v)

        conds = []
        for i, (tc, _sc) in enumerate(pairs):
            mn, mx = row[f"__mn{i}"], row[f"__mx{i}"]
            if mn is None:
                # every source value NULL on this key: no row can match
                return "1 = 0"
            a, b = lit(mn), lit(mx)
            if a is None or b is None:
                return None
            conds.append(f"{tc} BETWEEN {a} AND {b}")
        return " AND ".join(conds) if conds else None

    def merge(
        self,
        source: DataFrame,
        key: str | list[str],
        snapshot_props: dict | None = None,
        mode: str | None = None,
    ) -> int:
        """``MERGE INTO t USING source ON t.key = source.key WHEN MATCHED
        THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`` — the standard
        Iceberg upsert: current rows whose key collides with the source
        are replaced by the source row, unmatched source rows append. A
        shorthand for :meth:`merge_into` with that clause shape, which
        plans it as an anti-join (copy-on-write) or a semi-join for the
        position deletes (merge-on-read, by ``mode`` or the table property
        ``write.merge.mode``)."""
        keys = [key] if isinstance(key, str) else list(key)
        return self.merge_into(
            source, " AND ".join(f"t.{k} = s.{k}" for k in keys),
            matched=[("update", None, "*")], not_matched=[(None, None, None)],
            snapshot_props=snapshot_props, mode=mode,
        )

    def _eq_delete_payload(
        self, keys_df: DataFrame, meta: dict
    ) -> tuple[DataFrame, list[str]]:
        """Validate/cast/rename the key columns for an equality-delete
        file: every column must exist in the declared schema, values cast
        to the declared type (so the read-side null-safe equality compares
        like with like), names resolved to PHYSICAL names so later renames
        can't orphan the file. Deduped — the delete side should be the
        provably-small side of the read-side anti-join."""
        aliases = meta.get("column_aliases", {})
        schema = (
            T.StructType.fromJson(meta["schema"]) if meta.get("schema") else None
        )
        sel, phys = [], []
        for c in keys_df.columns:
            col = F.col(c)
            if schema is not None:
                if c not in schema.fieldNames():
                    raise ValueError(
                        f"unknown equality-delete key column {c!r} on {self.name}"
                    )
                col = col.cast(schema[c].dataType)
            p = aliases.get(c, c)
            sel.append(col.alias(p))
            phys.append(p)
        return keys_df.select(*sel).dropDuplicates(), phys

    @_requires("DELETE", "WRITE")
    def delete_by_key(
        self, keys_df: DataFrame, snapshot_props: dict | None = None
    ) -> int:
        """Iceberg v2 EQUALITY delete — the delete-file flavor streaming
        CDC writers (e.g. Flink upsert mode) emit: remove every current row
        whose values on the key columns (= ``keys_df``'s columns) match a
        key row, WITHOUT reading or rewriting the target. The keys land in
        an equality-delete file whose entry applies to the commit dirs
        present NOW; rows appended later are immune (Iceberg's sequence-
        number rule). Write cost is O(keys) at ANY table size — no scan,
        no shuffle over the target. NULL key values match NULL columns
        (null-safe equality). Reads anti-join the file out until a
        ``compact()`` / full-rewrite DML folds it away."""
        meta = self._load_meta()
        parent = meta.get("current_snapshot_id")
        snap = self._current_snapshot(meta)
        if snap is None or not snap["commit_dirs"]:
            # nothing to delete from: metadata-only snapshot
            return self._commit_rewrite(
                parent, "delete", [], props=snapshot_props
            )["id"]
        payload, phys = self._eq_delete_payload(keys_df, meta)
        ddir = f"eqdeletes-{uuid.uuid4().hex[:12]}"
        payload.write.mode("error").parquet(os.path.join(self.path, "data", ddir))
        entry = {
            "dir": ddir, "cols": phys, "applies_to": list(snap["commit_dirs"]),
        }
        return self._commit_rewrite(
            parent, "delete", list(snap["commit_dirs"]), props=snapshot_props,
            **self._carried(snap, eq_delete=entry),
        )["id"]

    @_requires("UPDATE", "WRITE")
    def upsert_equality(
        self,
        source: DataFrame,
        key: str | list[str],
        snapshot_props: dict | None = None,
    ) -> int:
        """Flink-style Iceberg streaming upsert: ONE atomic commit holding
        an equality-delete file of the source's keys (applying to every
        pre-existing commit dir) plus the source rows as a new data dir —
        every source row replaces-or-inserts, and the target is NEVER read.
        O(source) per call at any table size: the write shape that keeps a
        CDC sink over a 100 TB table cheap, where a merge-on-read MERGE
        still pays a target scan for its position-delete coordinates.

        The caller guarantees one row per key in ``source`` (the streaming
        wrapper collapses each micro-batch to its per-key latest first);
        duplicate source keys would all land. ``compact()`` on the
        maintenance cadence folds the accumulated delete files away."""
        keys = [key] if isinstance(key, str) else list(key)
        meta = self._load_meta()
        parent = meta.get("current_snapshot_id")
        snap = self._current_snapshot(meta)
        # validate the keys BEFORE any data lands on disk — a typo'd key
        # column must not leave an orphaned commit dir behind, and must
        # fail identically on an empty table
        payload, phys = self._eq_delete_payload(source.select(*keys), meta)
        commit = self._write_commit_dir(source, meta)
        entry = None
        if snap and snap["commit_dirs"]:
            ddir = f"eqdeletes-{uuid.uuid4().hex[:12]}"
            payload.write.mode("error").parquet(
                os.path.join(self.path, "data", ddir)
            )
            entry = {
                "dir": ddir, "cols": phys,
                "applies_to": list(snap["commit_dirs"]),
            }
        return self._commit_rewrite(
            parent, "upsert",
            (list(snap["commit_dirs"]) if snap else []) + [commit],
            props=snapshot_props, **self._carried(snap, eq_delete=entry),
        )["id"]

    @_requires("UPDATE", "WRITE")
    def merge_into(
        self,
        source: DataFrame,
        on: str,
        matched: list[tuple] = (),
        not_matched: list[tuple] = (),
        not_matched_by_source: list[tuple] = (),
        target_alias: str = "t",
        source_alias: str = "s",
        snapshot_props: dict | None = None,
        mode: str | None = None,
    ) -> int:
        """``MERGE INTO`` (standard Iceberg/SQL:2003 semantics): the one
        MERGE body, the plain upsert (:meth:`merge`) included.

        - ``matched``: ordered ``("update", cond_or_None, set)`` /
          ``("delete", cond_or_None, None)`` clauses, where ``set`` is
          ``"*"`` (every target column from the same-named source column)
          or ``{target_col: sql_expr}``. First clause whose condition holds
          wins; a matched row no clause accepts stays unchanged.
        - ``not_matched``: ordered ``(cond_or_None, cols_or_None,
          values_or_None)`` INSERT clauses; ``cols is None`` means
          ``INSERT *`` (by name), else ``INSERT (cols) VALUES (exprs)``
          with unlisted columns NULL.
        - ``not_matched_by_source``: ordered ``("update", cond_or_None,
          {col: expr})`` / ``("delete", cond_or_None, None)`` clauses for
          TARGET rows with no matching source row (SQL:2023 / Iceberg
          ``WHEN NOT MATCHED BY SOURCE`` — the sync-a-dimension clause
          family: delete or flag target rows the source no longer
          carries). Conditions may reference source columns; they are all
          NULL on these rows, the standard's semantics. ``SET *`` is
          rejected here (every source column is NULL).

        Conditions and expressions are Spark SQL referencing
        ``target_alias`` / ``source_alias``; ``snapshot_props`` ride the
        commit. ``mode`` (or table property ``write.merge.mode``) governs
        every clause family: copy-on-write goes through :meth:`_rewrite`,
        merge-on-read through :meth:`_merge_on_read` (the target rows a
        clause updates or deletes are position-deleted; their updated
        copies and the inserts append).

        Plans. The plain upsert (unconditional ``UPDATE SET *`` + ``INSERT
        *``, every ON conjunct a same-column ``t.c = s.c``) is an anti-join
        plus the source (CoW) or a semi-join for the delete coordinates
        plus the source (MoR), with no cardinality check: duplicate source
        keys all land. Every other shape runs ONE full-outer join on the
        raw ON condition with presence markers; first-true CASE chains pick
        each row's clause, all JVM-side codegen. Without NOT MATCHED BY
        SOURCE, target files whose equi-key stats miss the source's key
        range (one narrow agg) stay out of the plan; extra non-equi ON
        conjuncts only narrow a match, so that is sound.

        Cardinality: standard MERGE requires each target row to match at
        most one source row. Enforced conservatively via the ON clause's
        equi-conjuncts (``t.c = s.c``): any duplicated source key that
        also exists in the target raises before anything is written. The
        ON condition must contain at least one such equi-conjunct (every
        sane MERGE does; it is also what makes the join shuffle-plannable
        rather than a cross product)."""
        matched, not_matched = list(matched), list(not_matched)
        not_matched_by_source = list(not_matched_by_source)
        if not matched and not not_matched and not not_matched_by_source:
            raise ValueError("MERGE INTO needs at least one WHEN clause")
        for act, _cond, assign in not_matched_by_source:
            if act == "update" and assign == "*":
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE ... UPDATE SET * is "
                    "meaningless: every source column is NULL on those rows; "
                    "list explicit assignments"
                )
        t, s = target_alias, source_alias
        meta = self._load_meta()
        mor = self._dml_mode(meta, "merge", mode) == "merge-on-read"
        write = self._merge_on_read if mor else self._rewrite

        # equi-conjuncts (real scanner: paren/backtick variants parse; a
        # top-level OR raises instead of silently weakening the check)
        pairs = _on_equi_conjuncts(on, t, s, self.name)
        snap = self._current_snapshot(meta)
        cond = (
            self._source_key_range_condition(source, pairs)
            if not not_matched_by_source and snap and snap["commit_dirs"]
            else None
        )

        if (
            matched == [("update", None, "*")]
            and not_matched == [(None, None, None)]
            and not not_matched_by_source
            and all(tc == sc for tc, sc in pairs)
            and len(pairs) == len(dialect.split_top(on, "AND"))
        ):
            keys = [tc for tc, _ in pairs]

            def upsert(rows: DataFrame):
                if not mor:
                    return rows.join(source.select(*keys), keys, "left_anti").unionByName(
                        source.select(*rows.columns)
                    )
                # no forced broadcast: the source is usually the small side
                # but isn't contractually so — AQE picks the join strategy
                return (
                    rows.join(source.select(*keys).distinct(), keys, "left_semi"),
                    source.select(*[c for c in rows.columns if c not in _COORDS]),
                )

            return write(
                meta, "merge", cond, upsert, props=snapshot_props, inserts=True
            )

        def classified(current: DataFrame) -> DataFrame:
            """The full-outer join of ``current`` and the source, each row
            tagged with its chosen clause: ``__clause`` indexes ``matched``
            on matched rows and ``not_matched`` on source-only rows,
            ``__nbs_clause`` indexes ``not_matched_by_source`` on
            target-only rows; NULL where no clause accepts the row."""
            src_keys = [sc for _, sc in pairs]
            dup_src = (
                source.groupBy(*src_keys).agg(F.count(F.lit(1)).alias("__n")).filter("__n > 1")
            )
            tgt_keys = current.select(
                *[F.col(tc).alias(sc) for tc, sc in pairs]
            ).dropDuplicates(src_keys)
            if not dup_src.join(tgt_keys, src_keys, "left_semi").isEmpty():
                raise ValueError(
                    f"MERGE INTO {self.name}: a target row matches multiple source "
                    f"rows (duplicate source keys on {src_keys}) — standard MERGE "
                    "cardinality violation"
                )
            bad = set(source.columns) & {
                "__t_present", "__s_present", "__clause", "__nbs_clause"
            }
            if bad:
                raise ValueError(f"source columns collide with merge markers: {sorted(bad)}")
            tgt = current.withColumn("__t_present", F.lit(True)).alias(t)
            src = source.withColumn("__s_present", F.lit(True)).alias(s)
            joined = tgt.join(src, F.expr(on), "full_outer")

            def first_clause(conds):
                expr = None
                for i, cond in enumerate(conds):
                    c = F.expr(cond) if cond else F.lit(True)
                    expr = F.when(c, F.lit(i)) if expr is None else expr.when(c, F.lit(i))
                return expr if expr is not None else F.lit(None).cast("int")

            t_present = F.col("__t_present").isNotNull()
            s_present = F.col("__s_present").isNotNull()
            return joined.withColumn(
                "__clause",
                F.when(t_present & s_present, first_clause([c for _, c, _ in matched]))
                .when(~t_present, first_clause([c for c, _, _ in not_matched])),
            ).withColumn(
                "__nbs_clause",
                F.when(
                    t_present & ~s_present,
                    first_clause([c for _, c, _ in not_matched_by_source]),
                ),
            )

        def merged(rows: DataFrame, fields: list) -> DataFrame:
            """What ``classified`` rows write, as the target ``fields``:
            target rows minus the deleted ones, updated by their clause,
            plus each source-only row's first applicable INSERT clause."""
            families = (("__clause", matched), ("__nbs_clause", not_matched_by_source))
            kept = rows.filter(F.col("__t_present").isNotNull())
            for idx, clauses in families:
                dels = [i for i, (act, _, _) in enumerate(clauses) if act == "delete"]
                if dels:
                    kept = kept.filter(F.col(idx).isNull() | ~F.col(idx).isin(dels))
            out_cols = []
            for f in fields:
                base = F.col(f"{t}.{f.name}")
                case = None
                for idx, clauses in families:
                    for i, (act, _, assign) in enumerate(clauses):
                        if act != "update":
                            continue
                        if assign == "*":
                            val = F.col(f"{s}.{f.name}")
                        elif f.name in assign:
                            val = F.expr(assign[f.name])
                        else:
                            continue  # clause doesn't touch this column
                        hit = F.col(idx) == i
                        val = val.cast(f.dataType)
                        case = F.when(hit, val) if case is None else case.when(hit, val)
                out_cols.append(
                    (case.otherwise(base) if case is not None else base).alias(f.name)
                )
            result = kept.select(*out_cols)

            ins = rows.filter(F.col("__t_present").isNull())
            src_cols = set(source.columns)
            names = [f.name for f in fields]
            for i, (_, cols, values) in enumerate(not_matched):
                if cols is not None:
                    exprs = dict(zip([c.strip() for c in cols], values))
                    unknown = [c for c in exprs if c not in names]
                    if unknown:
                        raise ValueError(
                            f"MERGE INTO {self.name}: INSERT targets unknown "
                            f"columns {unknown}"
                        )
                part_cols = []
                for f in fields:
                    if cols is None:  # INSERT *: by name from the source
                        val = F.col(f"{s}.{f.name}") if f.name in src_cols else F.lit(None)
                    else:
                        val = F.expr(exprs[f.name]) if f.name in exprs else F.lit(None)
                    part_cols.append(val.cast(f.dataType).alias(f.name))
                result = result.unionByName(
                    ins.filter(F.col("__clause") == i).select(*part_cols)
                )
            return result

        def plan(rows: DataFrame):
            fields = [f for f in rows.schema.fields if f.name not in _COORDS]
            if not mor:
                return merged(classified(rows), fields)
            # the rows a clause touches, classified once: every touched
            # target row is position-deleted, and its update (if any)
            # appends beside the inserts
            touched = classified(rows).filter(
                "__clause IS NOT NULL OR __nbs_clause IS NOT NULL"
            ).localCheckpoint()
            return touched.filter(F.col("__t_present").isNotNull()), merged(touched, fields)

        return write(meta, "merge", cond, plan, props=snapshot_props, inserts=True)

    # ----------------------------------------------------- schema evolution

    @staticmethod
    def _push_schema_log(meta: dict) -> None:
        """Snapshot the CURRENT schema epoch before an evolution mutates it,
        so time travel reads old snapshots under the schema they were
        committed with (Iceberg records a schema-id per snapshot; the shim
        records the epoch's last snapshot id). ``valid_through`` is the last
        snapshot committed under the old schema; a pre-first-snapshot
        evolution records None (nothing to time-travel to). The bound is the
        MAX snapshot id in the table, not main's current: branch snapshots
        take ids above main's head, so a branch commit made before this
        evolution must still resolve to the pre-evolution epoch."""
        snaps = meta.get("snapshots") or []
        meta.setdefault("schema_log", []).append(
            {
                "valid_through": max((s["id"] for s in snaps), default=None)
                if snaps
                else None,
                "schema": meta.get("schema"),
                "aliases": dict(meta.get("column_aliases", {})),
                "lineage": {
                    k: list(v)
                    for k, v in meta.get("column_lineage", {}).items()
                },
            }
        )

    @staticmethod
    def _schema_entry_at(meta: dict, snapshot_id: int) -> dict | None:
        """The schema epoch snapshot ``snapshot_id`` was committed under:
        the FIRST log entry whose ``valid_through`` covers it (entries are
        appended in evolution order, so the first match is the oldest —
        i.e. the epoch live at commit time). None → the current schema."""
        for entry in meta.get("schema_log", []):
            vt = entry.get("valid_through")
            if vt is not None and snapshot_id <= vt:
                return entry
        return None

    def _tombstoned_dirs(
        self, meta: dict, schema: T.StructType | None, snapshot_id: int | None
    ) -> dict[str, set[str]]:
        """{column: absolute commit dirs whose physical data for that column
        is STALE} — a column that was dropped and later re-added must read
        NULL from files written before the drop (Iceberg guarantees this via
        field ids; the shim via per-drop dir tombstones). A time-travel read
        at ``snapshot_id`` applies only drops that happened before it — an
        older snapshot reads under its own (pre-drop) schema where the data
        is genuinely live."""
        out: dict[str, set[str]] = {}
        if schema is None:
            return out
        declared = set(schema.fieldNames())
        for col, records in meta.get("column_tombstones", {}).items():
            if col not in declared:
                continue
            dirs: set[str] = set()
            for rec in records:
                if snapshot_id is not None and snapshot_id <= rec["dropped_at"]:
                    continue  # reading a pre-drop snapshot: data is live
                dirs.update(rec["dirs"])
            if dirs:
                out[col] = {os.path.join(self.path, "data", d) for d in dirs}
        return out

    @_requires("ALTER", "WRITE")
    def add_column(self, name: str, dtype: str) -> None:
        """``ALTER TABLE … ADD COLUMN`` — metadata-only commit, no data
        rewrite; existing rows read as NULL (Iceberg schema evolution,
        SURVEY §1.3 / readme.md's Iceberg capability set). Requires a
        declared schema. Re-adding a previously dropped name is legal —
        pre-drop files' stale physical data reads as NULL (see
        :meth:`drop_column` tombstones)."""
        with self._commit_lock():
            meta = self._load_meta()
            if meta.get("schema") is None:
                raise ValueError("add_column requires a declared schema")
            schema = T.StructType.fromJson(meta["schema"])
            if name in schema.fieldNames():
                raise ValueError(f"column exists: {name}")
            self._push_schema_log(meta)
            schema = schema.add(T.StructField(name, T._parse_datatype_string(dtype)))
            meta["schema"] = schema.jsonValue()
            self._commit(meta)

    @_requires("ALTER", "WRITE")
    def drop_column(self, name: str) -> None:
        """``ALTER TABLE … DROP COLUMN`` — metadata-only (Iceberg schema
        evolution, readme.md:357-370 capability set): data files are never
        rewritten; the declared-schema projection simply stops selecting
        the column. Old snapshots still read it (schema log). Because data
        files keep the physical column, a later ``add_column`` of the SAME
        name must not resurrect stale values: the drop records a tombstone
        of every commit dir alive now, and reads NULL the column for those
        dirs once it is re-added. Partition-spec source columns cannot be
        dropped (the spec would reference a ghost)."""
        with self._commit_lock():
            meta = self._load_meta()
            if meta.get("schema") is None:
                raise ValueError("drop_column requires a declared schema")
            schema = T.StructType.fromJson(meta["schema"])
            if name not in schema.fieldNames():
                raise ValueError(f"no such column: {name}")
            for spec in meta["partition_by"]:
                m = _TRANSFORM_RE.match(spec)
                pm = _PARAM_TRANSFORM_RE.match(spec)
                src = m.group(2) if m else pm.group(3) if pm else spec
                if src == name:
                    raise ValueError(
                        f"cannot drop {name}: partition field {spec!r} references it"
                    )
            phys = meta.get("column_aliases", {}).get(name, name)
            cur = self._current_snapshot(meta) or {}
            for e in cur.get("eq_deletes", []):
                if phys in e["cols"]:
                    raise ValueError(
                        f"cannot drop {name}: outstanding equality-delete "
                        f"file {e['dir']} keys on it — run compact() first"
                    )
            self._push_schema_log(meta)
            meta["schema"] = T.StructType(
                [f for f in schema.fields if f.name != name]
            ).jsonValue()
            meta.get("column_aliases", {}).pop(name, None)
            meta.get("column_lineage", {}).pop(name, None)
            live = sorted({d for s in meta["snapshots"] for d in s["commit_dirs"]})
            if live:
                meta.setdefault("column_tombstones", {}).setdefault(name, []).append(
                    {"dropped_at": meta.get("current_snapshot_id"), "dirs": live}
                )
            self._commit(meta)

    # type-widening lattice: a cast from key to any member of the value set
    # is lossless for every representable value (Iceberg's allowed
    # schema-evolution promotions: int->long, float->double, decimal
    # precision growth at fixed scale)
    _WIDEN_OK = {
        "byte": {"short", "integer", "long"},
        "short": {"integer", "long"},
        "integer": {"long"},
        "float": {"double"},
    }

    @classmethod
    def _is_widening(cls, old: T.DataType, new: T.DataType) -> bool:
        if new.typeName() in cls._WIDEN_OK.get(old.typeName(), ()):
            return True
        if isinstance(old, T.DecimalType) and isinstance(new, T.DecimalType):
            return new.scale == old.scale and new.precision >= old.precision
        return False

    @_requires("ALTER", "WRITE")
    def widen_column(self, name: str, dtype: str) -> None:
        """``ALTER TABLE … ALTER COLUMN name TYPE dtype`` restricted to
        lossless widenings — int→long, float→double, decimal(p,s)→
        decimal(p'≥p,s) — exactly Iceberg's allowed type promotions.
        Metadata-only: old files keep the narrow physical type and the
        declared-schema projection casts up (exact by the lattice). File
        skipping stays sound: footer stats of the narrow type compare
        exactly against widened literals (int/float Python scalars;
        decimal stats are never recorded), and identity-partition
        degenerate string stats compare integers EXACTLY (see
        :meth:`_file_may_match`), so no widened-literal comparison ever
        goes through a lossy float round-trip."""
        with self._commit_lock():
            meta = self._load_meta()
            if meta.get("schema") is None:
                raise ValueError("widen_column requires a declared schema")
            schema = T.StructType.fromJson(meta["schema"])
            if name not in schema.fieldNames():
                raise ValueError(f"no such column: {name}")
            new_t = T._parse_datatype_string(dtype)
            old_t = schema[name].dataType
            if not self._is_widening(old_t, new_t):
                raise ValueError(
                    f"not a lossless widening: {old_t.simpleString()} -> "
                    f"{new_t.simpleString()} (allowed: int family up, "
                    "float->double, decimal precision growth at fixed scale)"
                )
            self._push_schema_log(meta)
            meta["schema"] = T.StructType(
                [
                    T.StructField(f.name, new_t if f.name == name else f.dataType, f.nullable)
                    for f in schema.fields
                ]
            ).jsonValue()
            self._commit(meta)

    @_requires("ALTER", "WRITE")
    def rename_column(self, old: str, new: str) -> None:
        """``ALTER TABLE … RENAME COLUMN`` — metadata-only. Data files keep
        the old physical name; reads map it forward. (Iceberg does this by
        field id; the shim records a physical-name alias.)"""
        with self._commit_lock():
            meta = self._load_meta()
            if meta.get("schema") is None:
                raise ValueError("rename_column requires a declared schema")
            schema = T.StructType.fromJson(meta["schema"])
            if old not in schema.fieldNames():
                raise ValueError(f"no such column: {old}")
            self._push_schema_log(meta)
            fields = [
                T.StructField(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in schema.fields
            ]
            meta["schema"] = T.StructType(fields).jsonValue()
            aliases = meta.setdefault("column_aliases", {})
            # chase prior renames so the alias always points at the ORIGINAL
            # physical name (predicate/stats substitution stays 1-to-1)...
            physical = aliases.pop(old, old)
            aliases[new] = physical
            # ...but data may have been WRITTEN under any intermediate name
            # (appends between renames store the then-current name), so the
            # read side needs the FULL lineage, newest-first, to coalesce
            # every generation of files (a rename chain id->a->b with
            # appends under each must read all three)
            lineage = meta.setdefault("column_lineage", {})
            prior = lineage.pop(old, [physical])
            lineage[new] = ([old] if old not in prior else []) + prior
            self._commit(meta)

    # --------------------------------------------------- partition evolution

    def partition_spec(self) -> list[str]:
        return list(self._load_meta()["partition_by"])

    def _validate_partition_field(self, spec: str, meta: dict) -> None:
        m = _TRANSFORM_RE.match(spec)
        pm = _PARAM_TRANSFORM_RE.match(spec)
        src = m.group(2) if m else pm.group(3) if pm else spec
        if not re.fullmatch(r"\w+", src):
            raise ValueError(f"malformed partition field: {spec!r}")
        if meta.get("schema") is not None:
            names = [f["name"] for f in meta["schema"]["fields"]]
            if src not in names:
                raise ValueError(
                    f"partition field {spec!r} references unknown column {src!r}"
                )

    @_requires("ALTER", "WRITE")
    def add_partition_field(self, spec: str) -> None:
        """``ALTER TABLE … ADD PARTITION FIELD days(ts)`` — Iceberg
        partition-spec evolution: metadata-only, applies to NEW commits;
        existing data files are NEVER rewritten and stay readable (each
        commit dir self-describes its layout via basePath discovery).
        Scans prune old files via parquet row-group stats on the raw
        column and new files via partition dirs — exactly Iceberg's
        split-planning across spec versions."""
        with self._commit_lock():
            meta = self._load_meta()
            self._validate_partition_field(spec, meta)
            if spec in meta["partition_by"]:
                raise ValueError(f"partition field exists: {spec}")
            meta["partition_by"].append(spec)
            self._commit(meta)

    @_requires("ALTER", "WRITE")
    def drop_partition_field(self, spec: str) -> None:
        """Remove a field from the partition spec (new commits only; data
        already partitioned by it keeps its layout and pruning)."""
        with self._commit_lock():
            meta = self._load_meta()
            if spec not in meta["partition_by"]:
                raise ValueError(f"no such partition field: {spec}")
            # an evolution like any ALTER: the log entry stops reads from
            # pinning the recorded per-dir schema, which lacks the dropped
            # field's column in dirs that carry it in their paths
            # (_static_read_schema appends identity partition columns from
            # the CURRENT spec only)
            self._push_schema_log(meta)
            meta["partition_by"].remove(spec)
            self._commit(meta)

    @_requires("SELECT")
    def read_incremental(
        self, from_snapshot_id: int | None, to_snapshot_id: int | None = None
    ) -> DataFrame:
        """Incremental scan: rows appended after ``from_snapshot_id`` (up to
        ``to_snapshot_id``/current) — Iceberg's incremental read
        (``incremental-from-snapshot``), the engine primitive for
        incremental reflection refresh and streaming backfill.
        ``from_snapshot_id=None`` means "since the empty table" (a consumer
        registered before the first commit): every row is the delta,
        subject to the same all-append requirement.

        Only valid across append commits: an overwrite/delete/compact
        rewrites history, so a consumer must fall back to a full refresh —
        exactly Iceberg's contract (raises ValueError, caller decides)."""
        meta = self._load_meta()
        bad = self.rewrites_in(from_snapshot_id, to_snapshot_id, meta)
        if bad:
            raise ValueError(
                f"non-append snapshots {bad} in range — incremental "
                "read undefined; run a full refresh"
            )
        by_id = {s["id"]: s for s in meta["snapshots"]}
        end = by_id[to_snapshot_id] if to_snapshot_id is not None else self._current_snapshot(meta)
        if end is None:
            return self.read().limit(0)  # still empty: empty delta
        base = (
            set()
            if from_snapshot_id is None
            else set(by_id[from_snapshot_id]["commit_dirs"])
        )
        new_dirs = [d for d in end["commit_dirs"] if d not in base]
        if not new_dirs:
            return self.read(snapshot_id=from_snapshot_id).limit(0)
        # the scan normalises to the CURRENT declared schema like read():
        # a delta spanning a rename surfaces the new name, never both
        # physical names. Deletes are skipped: every delete in the span
        # predates the new dirs (position deletes name older files,
        # equality deletes apply only to older dirs), so they cannot match
        return self._scan(meta, end, rel_dirs=new_dirs, deletes=False)

    def rewrites_in(
        self,
        from_snapshot_id: int | None,
        to_snapshot_id: int | None = None,
        meta: dict | None = None,
    ) -> list[int]:
        """Sorted ids of the snapshots in ``(from, to]`` that are not
        appends — empty exactly when :meth:`read_incremental` can serve
        the range. Compact preserves row content but rewrites files, so
        file-diffing across it would double-count: it is a boundary just
        like overwrite/delete. ``from=None`` means "since the empty
        table", ``to=None`` the current snapshot; an unknown snapshot id
        raises ValueError."""
        meta = meta if meta is not None else self._load_meta()
        snaps = meta["snapshots"]
        by_id = {s["id"]: s for s in snaps}
        for sid in (from_snapshot_id, to_snapshot_id):
            if sid is not None and sid not in by_id:
                raise ValueError(f"unknown snapshot {sid} for {self.name}")
        end = by_id[to_snapshot_id] if to_snapshot_id is not None else self._current_snapshot(meta)
        if end is None:
            return []
        start_id = -1 if from_snapshot_id is None else from_snapshot_id
        return sorted({
            s["id"] for s in snaps
            if start_id < s["id"] <= end["id"] and s["operation"] != "append"
        })

    # ---------------------------------------------------- metadata tables

    def snapshots(self) -> DataFrame:
        """≈ ``SELECT * FROM t.snapshots`` / ``TABLE(table_snapshot('t'))``
        (readme.md:360-365)."""
        meta = self._load_meta()
        rows = [
            (
                s["id"], s["parent_id"], s["ts_ms"], s["operation"],
                len(s["commit_dirs"]),
                # Iceberg snapshot-summary flavor: outstanding MoR delete
                # files (position dirs + equality entries) and the commit
                # props streaming sinks ride (checkpoint/batch_id)
                len(s.get("delete_dirs", [])) + len(s.get("eq_deletes", [])),
                json.dumps(s["props"], sort_keys=True) if s.get("props") else None,
            )
            for s in meta["snapshots"]
        ]
        return local_frame(
            self.spark, rows, "snapshot_id BIGINT, parent_id BIGINT, committed_at_ms BIGINT, "
                  "operation STRING, n_commit_dirs INT, n_delete_files INT, "
                  "summary STRING"
        )

    def history(self) -> DataFrame:
        """≈ ``TABLE(table_history('t'))`` (readme.md:366-370)."""
        meta = self._load_meta()
        cur = meta.get("current_snapshot_id")
        rows = [(s["ts_ms"], s["id"], s["parent_id"], s["id"] == cur) for s in meta["snapshots"]]
        return local_frame(
            self.spark, rows, "made_current_at_ms BIGINT, snapshot_id BIGINT, parent_id BIGINT, "
                  "is_current BOOLEAN"
        )

    def _walk_parquet(self, rel_dir: str):
        """(absolute_path, size_bytes) per parquet file under a data dir —
        shared by the files()/delete_files() metadata tables."""
        base = os.path.join(self.path, "data", rel_dir)
        for root, _dirs, names in os.walk(base):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(root, n)
                    yield p, os.path.getsize(p)

    def files(self) -> DataFrame:
        """≈ ``t.files`` — one row per live data file."""
        meta = self._load_meta()
        snap = self._current_snapshot(meta)
        rows = []
        for d in snap["commit_dirs"] if snap else []:
            for p, size in self._walk_parquet(d):
                rows.append((p, size, d))
        return local_frame(
            self.spark, rows, "file_path STRING, size_bytes BIGINT, commit_dir STRING"
        )

    def delete_files(self) -> DataFrame:
        """≈ Iceberg ``t.delete_files`` — one row per live merge-on-read
        delete file with Iceberg's content ids: 1 = position deletes
        (file_path/pos rows), 2 = equality deletes (key tuples;
        ``equality_cols`` lists the physical key columns). Empty when no
        MoR state is outstanding — the post-``fold_deletes``/``compact``
        invariant an operator checks before expecting single-anti-join
        reads. SQL: ``TABLE(table_delete_files('t'))``."""
        meta = self._load_meta()
        snap = self._current_snapshot(meta)
        rows = []

        def walk(rel_dir, content, eq_cols):
            for p, size in self._walk_parquet(rel_dir):
                rows.append((p, size, rel_dir, content, eq_cols))

        for d in (snap or {}).get("delete_dirs", []):
            walk(d, 1, None)
        for e in (snap or {}).get("eq_deletes", []):
            walk(e["dir"], 2, ",".join(e["cols"]))
        schema = (
            "file_path STRING, size_bytes BIGINT, commit_dir STRING, "
            "content INT, equality_cols STRING"
        )
        return local_frame(self.spark, rows, schema)

    def partitions(self) -> DataFrame:
        """≈ ``t.partitions`` — one row per live partition with file count,
        byte size, and exact row count (read from parquet footers, not by
        scanning data — metadata cost only, like Iceberg's manifests).
        Unpartitioned tables return a single row with partition=''."""
        import pyarrow.parquet as pq

        meta = self._load_meta()
        snap = self._current_snapshot(meta)
        agg: dict[str, list[int]] = {}
        for d in snap["commit_dirs"] if snap else []:
            base = os.path.join(self.path, "data", d)
            for root, _dirs, names in os.walk(base):
                rel = os.path.relpath(root, base)
                part = "" if rel == "." else rel
                for n in names:
                    if not n.endswith(".parquet"):
                        continue
                    p = os.path.join(root, n)
                    slot = agg.setdefault(part, [0, 0, 0])
                    slot[0] += 1
                    slot[1] += os.path.getsize(p)
                    slot[2] += pq.ParquetFile(p).metadata.num_rows
        rows = [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
        schema = "partition STRING, n_files BIGINT, size_bytes BIGINT, n_rows BIGINT"
        return local_frame(self.spark, rows, schema)

    def row_count_estimate(self) -> int:
        """Live-row count from manifest metadata — driver-side only, NO
        Spark job (the number Iceberg keeps in its snapshot summary as
        ``total-records``). Sums the per-file ``__rows__`` counts the
        stats manifest records at write time (r12 — one tiny JSON per
        commit dir instead of re-opening every parquet footer on every
        advisor pass); pre-r12 dirs without counts fall back to their
        footers once per call. An upper bound while merge-on-read delete
        files are outstanding (they subtract at read time, not here) or
        commit_filters retain partially-superseded dirs, which is
        exactly what cost estimators (the advisor's index benefit gate)
        want: a scan-cost bound."""
        import pyarrow.parquet as pq

        meta = self._load_meta()
        snap = self._current_snapshot(meta)
        total = 0
        for d in snap["commit_dirs"] if snap else []:
            base = os.path.join(self.path, "data", d)
            counted: set[str] = set()
            sp = os.path.join(base, "_stats.json")
            if os.path.exists(sp):
                try:
                    with open(sp) as f:
                        for rel, cols in json.load(f).items():
                            n = cols.get("__rows__") if isinstance(cols, dict) else None
                            if isinstance(n, int):
                                total += n
                                counted.add(os.path.join(base, rel))
                except (OSError, ValueError):
                    pass
            for root, _dirs, names in os.walk(base):
                for n in names:
                    p = os.path.join(root, n)
                    if n.endswith(".parquet") and p not in counted:
                        total += pq.ParquetFile(p).metadata.num_rows
        return total

    # ------------------------------------------------------- maintenance

    def _zorder_column(self, df: DataFrame, cols: list[str]):
        """Z-value expression interleaving 16-bit quantized codes of each
        clustering column (min/max linear scaling — one metadata-cheap agg
        pass). Range-partitioning + sorting on this value gives every
        output file a TIGHT min/max range on EVERY clustering column
        simultaneously, so file-level skipping prunes point/range
        predicates on any of them — hierarchical sort only helps the
        leading column. Numeric/date/timestamp columns scale linearly;
        STRING columns map through a bounded prefix code — the first 7
        UTF-8 bytes read big-endian as an integer (UTF-8 byte order is
        lexicographic code-point order, and 7 bytes stay exact in both
        long and double) — so mixed numeric+string clustering works.
        Caveat: strings sharing a 7-byte prefix get the same code and
        simply cluster together; min/max file stats (which drive the
        actual pruning) remain exact regardless."""
        dtypes = dict(df.dtypes)
        for c in cols:
            dt = dtypes.get(c, "")
            if dt.startswith(("binary", "array", "map", "struct")):
                raise ValueError(
                    f"zorder_by column {c!r} has type {dt}: Z-order clustering "
                    "needs a linearly scalable type (numeric/date/timestamp) "
                    "or a string (7-byte-prefix code); use sort_by otherwise"
                )

        def val_expr(c: str):
            dt = dtypes.get(c, "")
            if dt == "date":
                return F.col(c).cast("timestamp").cast("double")
            if dt.startswith("string"):
                return F.expr(
                    "CAST(conv(rpad(hex(substring(encode("
                    f"`{c}`, 'UTF-8'), 1, 7)), 14, '0'), 16, 10) AS DOUBLE)"
                )
            return F.col(c).cast("double")

        aggs = []
        for c in cols:
            v = val_expr(c)
            aggs += [F.min(v).alias(f"__mn_{c}"), F.max(v).alias(f"__mx_{c}")]
        row = df.agg(*aggs).first()
        codes = []
        for c in cols:
            mn, mx = row[f"__mn_{c}"], row[f"__mx_{c}"]
            if mn is None:
                codes.append(F.lit(0).cast("long"))
                continue
            span = (mx - mn) or 1.0
            v = val_expr(c)
            code = F.floor((v - F.lit(mn)) / F.lit(span) * 65535)
            code = F.least(F.lit(65535), F.greatest(F.lit(0), code)).cast("long")
            codes.append(F.coalesce(code, F.lit(0)))
        z = F.lit(0).cast("long")
        for bit in range(16):
            for j, code in enumerate(codes):
                z = z.bitwiseOR(
                    F.shiftleft(
                        F.shiftright(code, bit).bitwiseAND(F.lit(1)),
                        bit * len(codes) + j,
                    )
                )
        return z

    @_requires("ALTER", "WRITE")
    def compact(
        self,
        target_file_mb: int = 128,
        sort_by: list[str] | None = None,
        n_files: int | None = None,
        zorder_by: list[str] | None = None,
        where: str | None = None,
    ) -> int:
        """Bin-pack small files into ~target-size files — ≈ ``CALL
        system.rewrite_data_files`` (readme.md:391-401, SURVEY §4 R9).
        Produces a new snapshot; data is unchanged.

        ``sort_by`` rewrites with range-partitioned, sorted files (≈
        ``rewrite_data_files(strategy => 'sort')``): each output file owns a
        tight min/max range on the sort keys, so parquet row-group stats
        prune range predicates file-by-file — the clustering half of the
        reference's "partition optimization".

        ``zorder_by`` clusters on an interleaved-bit Z-value instead (≈
        ``strategy => 'sort', sort_order => 'zorder(...)'``): every listed
        column gets tight per-file ranges SIMULTANEOUSLY — the layout gold
        tables at 100 TB want when queries filter on more than one
        dimension.

        ``where`` scopes the rewrite (Dremio ``OPTIMIZE TABLE … FOR
        PARTITIONS``): ONLY matching rows are read (file-skipping applies)
        and rewritten; untouched rows stay in their existing files, which
        the new snapshot references with an exclusion filter — cost is
        O(matching data), never O(table). ``files()``/``partitions()``
        remain physical-file views (a partially rewritten dir still lists
        whole); a later full ``compact()`` folds everything clean."""
        meta = self._load_meta()
        parent = meta.get("current_snapshot_id")
        if self._current_snapshot(meta) is None:
            # never-committed table: nothing to bin-pack — commit nothing
            # (a maintenance no-op must not mint an addressable snapshot)
            return parent
        scoped = where is not None
        current = self.read(where=where) if scoped else self.read()
        if n_files is None:
            if scoped:
                sizes = 0
                for p in current.inputFiles():
                    try:
                        sizes += os.path.getsize(p.removeprefix("file:"))
                    except OSError:
                        pass
                total = sizes or 1
            else:
                total = sum(r.size_bytes for r in self.files().collect()) or 1
            n_files = max(1, round(total / (target_file_mb * 1024 * 1024)))
        if zorder_by:
            packed = (
                current.withColumn("__z", self._zorder_column(current, zorder_by))
                .repartitionByRange(n_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_by:
            cols = [F.col(c) for c in sort_by]
            packed = current.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
        else:
            packed = current.repartition(n_files)
        commit = self._write_commit_dir(packed, meta)
        if not scoped:
            return self._commit_rewrite(parent, "compact", [commit])["id"]
        # partition-scoped: keep old dirs, excluding the rewritten rows.
        # Outstanding position deletes still apply to the kept files (the
        # rewritten rows were read with deletes applied; entries pointing
        # at them are excluded by the commit filter anyway) — carry them.
        cur = self._current_snapshot(meta)
        carry = self._carried(cur)
        filters = carry["commit_filters"] or {}
        for d in cur["commit_dirs"]:
            filters[d] = f"({filters[d]}) OR ({where})" if d in filters else where
        return self._commit_rewrite(
            parent, "compact", list(cur["commit_dirs"]) + [commit],
            **{**carry, "commit_filters": filters},
        )["id"]

    @_requires("ALTER", "WRITE")
    def expire_snapshots(
        self, keep_last: int = 1, older_than_ms: int | None = None
    ) -> int:
        """Drop old snapshots and physically remove commit dirs no live
        snapshot references — ≈ ``expire_snapshots`` + ``remove_orphan_files``
        (readme.md:391-401). ``older_than_ms`` is Iceberg's time-based
        retention: snapshots committed at or after the instant are kept
        regardless of ``keep_last`` (the two compose — keep the newest
        ``keep_last`` AND everything younger than the horizon). Returns
        number of commit dirs removed."""
        with self._commit_lock():
            meta = self._load_meta()
            snaps = meta["snapshots"]
            keep = snaps[-keep_last:] if keep_last > 0 else snaps
            if older_than_ms is not None:
                keep = keep + [
                    s for s in snaps
                    if s["ts_ms"] >= older_than_ms and s not in keep
                ]
            cur = self._current_snapshot(meta)
            if cur and cur not in keep:
                keep.append(cur)
            # snapshots referenced by any named ref (tag OR branch head)
            # are always retained (Iceberg ref semantics: expiry respects
            # named references)
            referenced = {
                r["snapshot_id"]
                for r in meta.get("refs", {}).values()
                if r.get("snapshot_id") is not None
            }
            for s in snaps:
                if s["id"] in referenced and s not in keep:
                    keep.append(s)
            keep.sort(key=lambda s: s["id"])  # history stays chronological
            live = {d for s in keep for d in s["commit_dirs"]}
            # position-delete dirs referenced by any kept snapshot are as
            # load-bearing as data dirs: removing one would resurrect rows
            live |= {d for s in keep for d in s.get("delete_dirs", [])}
            live |= {e["dir"] for s in keep for e in s.get("eq_deletes", [])}
            removed = 0
            data_root = os.path.join(self.path, "data")
            if os.path.isdir(data_root):
                import shutil

                for d in os.listdir(data_root):
                    if d not in live:
                        shutil.rmtree(os.path.join(data_root, d))
                        removed += 1
            meta["snapshots"] = keep
            self._commit(meta)
        return removed

    # ------------------------------------------------------------- tags

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Iceberg named reference: pin ``name`` to a snapshot (current by
        default) — ``ALTER TABLE t CREATE TAG name``. Tags survive
        ``expire_snapshots`` (a tagged snapshot is always retained), which
        is what makes them the durable audit/reproducibility anchor:
        'the exact table version this model trained on'."""
        with self._commit_lock():
            meta = self._load_meta()
            sid = (
                snapshot_id
                if snapshot_id is not None
                else meta.get("current_snapshot_id")
            )
            if sid is None or sid not in {s["id"] for s in meta["snapshots"]}:
                raise ValueError(f"unknown snapshot {sid} for {self.name}")
            refs = meta.setdefault("refs", {})
            if name in refs:
                raise ValueError(f"tag {name!r} already exists on {self.name}")
            refs[name] = {"type": "tag", "snapshot_id": sid}
            self._commit(meta)

    def drop_tag(self, name: str) -> None:
        with self._commit_lock():
            meta = self._load_meta()
            if name not in meta.get("refs", {}):
                raise ValueError(f"unknown tag {name!r} on {self.name}")
            del meta["refs"][name]
            self._commit(meta)

    def tags(self) -> dict[str, int]:
        """{tag_name: snapshot_id} (≈ the refs metadata table)."""
        meta = self._load_meta()
        return {
            k: v["snapshot_id"]
            for k, v in meta.get("refs", {}).items()
            if v.get("type") == "tag"
        }

    def refs(self) -> DataFrame:
        """≈ Iceberg's ``t.refs`` metadata table / ``TABLE(table_refs('t'))``:
        every named reference — tags AND branches, plus the implicit
        ``main`` branch at the current snapshot — with its pinned snapshot
        id (NULL for a branch created off an empty table)."""
        meta = self._load_meta()
        rows = [("main", "BRANCH", meta.get("current_snapshot_id"))]
        for name, ref in sorted(meta.get("refs", {}).items()):
            rows.append((name, ref.get("type", "").upper(), ref.get("snapshot_id")))
        return local_frame(
            self.spark, rows, "ref_name STRING, ref_type STRING, snapshot_id BIGINT"
        )

    @_requires("SELECT")
    def read_tag(self, name: str) -> DataFrame:
        sid = self.tags().get(name)
        if sid is None:
            raise ValueError(f"unknown tag {name!r} on {self.name}")
        return self.read(snapshot_id=sid)

    # ---------------------------------------------------------- branches

    def create_branch(self, name: str, snapshot_id: int | None = None) -> None:
        """Named writable reference for the write-audit-publish workflow:
        stage commits on a branch, audit them (quality queries over
        ``read_branch``), then ``publish_branch`` fast-forwards main — the
        Iceberg WAP pattern. Main readers never see unaudited data."""
        with self._commit_lock():
            meta = self._load_meta()
            sid = (
                snapshot_id
                if snapshot_id is not None
                else meta.get("current_snapshot_id")
            )
            if sid is not None and sid not in {s["id"] for s in meta["snapshots"]}:
                raise ValueError(f"unknown snapshot {sid} for {self.name}")
            refs = meta.setdefault("refs", {})
            if name in refs:
                raise ValueError(f"ref {name!r} already exists on {self.name}")
            refs[name] = {"type": "branch", "snapshot_id": sid}
            self._commit(meta)

    def branches(self) -> dict[str, int | None]:
        meta = self._load_meta()
        return {
            k: v["snapshot_id"]
            for k, v in meta.get("refs", {}).items()
            if v.get("type") == "branch"
        }

    def drop_branch(self, name: str) -> None:
        with self._commit_lock():
            meta = self._load_meta()
            ref = meta.get("refs", {}).get(name)
            if ref is None or ref.get("type") != "branch":
                raise ValueError(f"unknown branch {name!r} on {self.name}")
            del meta["refs"][name]
            self._commit(meta)

    @_requires("SELECT")
    def read_branch(self, name: str) -> DataFrame:
        meta = self._load_meta()
        ref = meta.get("refs", {}).get(name)
        if ref is None or ref.get("type") != "branch":
            raise ValueError(f"unknown branch {name!r} on {self.name}")
        if ref["snapshot_id"] is None:
            return self.read().limit(0)  # branched off an empty table
        return self.read(snapshot_id=ref["snapshot_id"])

    def append_to_branch(
        self, name: str, df: DataFrame, snapshot_props: dict | None = None
    ) -> int:
        """Append rows to a branch WITHOUT moving main's current snapshot.
        The commit is identical to :meth:`append` (new commit dir, atomic
        metadata swap) except the branch ref advances instead of
        ``current_snapshot_id``."""
        meta = self._load_meta()
        commit = self._write_commit_dir(df, meta)
        with self._commit_lock():
            meta = self._load_meta()
            ref = meta.get("refs", {}).get(name)
            if ref is None or ref.get("type") != "branch":
                raise ValueError(f"unknown branch {name!r} on {self.name}")
            by_id = {s["id"]: s for s in meta["snapshots"]}
            head = by_id.get(ref["snapshot_id"])
            dirs = (head["commit_dirs"] if head else []) + [commit]
            snap = {
                "id": max((s["id"] for s in meta["snapshots"]), default=0) + 1,
                "parent_id": ref["snapshot_id"],
                "ts_ms": _now_ms(),
                "operation": "append",
                "commit_dirs": dirs,
            }
            # branch appends carry the head's commit filters and
            # merge-on-read entries exactly like main-line appends —
            # dropping them would resurrect deleted rows in every branch
            # read after the first append
            snap.update(
                {k: v for k, v in self._carried(head).items() if v}
            )
            if snapshot_props:
                snap["props"] = snapshot_props
            meta["snapshots"].append(snap)
            ref["snapshot_id"] = snap["id"]
            self._commit(meta)
        return snap["id"]

    @_requires("ALTER", "WRITE")
    def publish_branch(self, name: str) -> int:
        """Fast-forward main to the branch head (the publish step of WAP):
        metadata-only, atomic, and only if main has not advanced past the
        branch point — otherwise raises (Iceberg's fast-forward contract;
        re-stage the branch from the new main instead of silently losing
        main's commits)."""
        with self._commit_lock():
            meta = self._load_meta()
            ref = meta.get("refs", {}).get(name)
            if ref is None or ref.get("type") != "branch":
                raise ValueError(f"unknown branch {name!r} on {self.name}")
            head_id = ref["snapshot_id"]
            if head_id is None:
                raise ValueError(f"branch {name!r} has no commits to publish")
            by_id = {s["id"]: s for s in meta["snapshots"]}
            cur = meta.get("current_snapshot_id")
            anc, chain_broken = head_id, False
            while anc is not None and anc != cur:
                s = by_id.get(anc)
                if s is None:
                    # expire_snapshots dropped an intermediate branch
                    # snapshot — the chain is broken, not necessarily the
                    # descent relationship
                    chain_broken = True
                    break
                anc = s["parent_id"]
            ok = anc == cur
            if not ok and chain_broken and cur is not None:
                # Branch commits are append-only (append_to_branch is the
                # only branch writer), so a true descendant's commit dirs
                # are a SUPERSET of main's current — which is exactly the
                # no-lost-update guarantee fast-forward exists to protect.
                # This keeps the documented WAP flow working after a
                # routine VACUUM between staging and publish.
                # Guards on the fallback: (a) if main's head is a rollback
                # or compact, its dirs can be a subset of the branch head's
                # WITHOUT the branch descending from it (rollback reuses old
                # commit dirs) — refuse, don't silently override; (b) the
                # head's commit_filters must agree on every shared dir, or
                # the "superset" would drop/restore rows main's exclusions
                # control.
                cur_snap = by_id.get(cur)
                head_snap = by_id[head_id]
                ok = (
                    cur_snap is not None
                    and cur_snap.get("operation") not in ("rollback", "compact")
                    and set(cur_snap["commit_dirs"]) <= set(head_snap["commit_dirs"])
                    and all(
                        head_snap.get("commit_filters", {}).get(d)
                        == cur_snap.get("commit_filters", {}).get(d)
                        for d in cur_snap["commit_dirs"]
                    )
                    # (c) merge-on-read state: every delete main's head
                    # holds must ride the branch head too (append_to_branch
                    # carries them, so a true descendant always passes) —
                    # otherwise publishing would resurrect deleted rows
                    and set(cur_snap.get("delete_dirs", []))
                    <= set(head_snap.get("delete_dirs", []))
                    and all(
                        e in head_snap.get("eq_deletes", [])
                        for e in cur_snap.get("eq_deletes", [])
                    )
                )
            if not ok:
                raise ValueError(
                    f"cannot fast-forward: main advanced past {name!r}'s branch "
                    "point; re-stage the branch from the new main"
                )
            meta["current_snapshot_id"] = head_id
            self._commit(meta)
        return head_id

    @_requires("ALTER", "WRITE")
    def rollback_to(self, snapshot_id: int) -> int:
        """``CALL system.rollback_to_snapshot`` — make an earlier snapshot
        current again. Pure metadata: appends a new history entry pointing at
        the old snapshot's files (nothing is rewritten; the rolled-back-over
        snapshots stay readable until expired)."""
        with self._commit_lock():
            meta = self._load_meta()
            by_id = {s["id"]: s for s in meta["snapshots"]}
            if snapshot_id not in by_id:
                raise ValueError(f"unknown snapshot {snapshot_id} for {self.name}")
            target = by_id[snapshot_id]
            # carry the target's outstanding merge-on-read state: rolling
            # back to (or past) a snapshot with position/equality deletes
            # must NOT resurrect the deleted rows
            snap = self._new_snapshot(
                meta, "rollback", list(target["commit_dirs"]),
                **self._carried(target),
            )
            self._commit(meta)
        return snap["id"]

    @_requires("ALTER", "WRITE")
    def rollback_to_timestamp(self, as_of_ms: int) -> int:
        """``ROLLBACK TABLE … TO TIMESTAMP`` — roll back to the snapshot
        that was current at the given instant (Dremio/Iceberg
        rollback_to_timestamp)."""
        meta = self._load_meta()
        eligible = [s for s in meta["snapshots"] if s["ts_ms"] <= as_of_ms]
        if not eligible:
            raise ValueError(f"no snapshot of {self.name} at or before {as_of_ms}")
        return self.rollback_to(eligible[-1]["id"])

    # ---------------------------------------------------- table properties

    @_requires("ALTER", "WRITE")
    def set_properties(self, props: dict[str, str]) -> None:
        """``ALTER TABLE … SET TBLPROPERTIES`` — free-form table metadata
        riding the atomic commit (Iceberg table properties; the engine
        stores them verbatim, honoring none as behavior switches — the
        shim's knobs are constructor args, documented)."""
        with self._commit_lock():
            meta = self._load_meta()
            meta.setdefault("properties", {}).update(
                {str(k): str(v) for k, v in props.items()}
            )
            self._commit(meta)

    @_requires("ALTER", "WRITE")
    def unset_properties(self, keys: list[str]) -> None:
        with self._commit_lock():
            meta = self._load_meta()
            stored = meta.get("properties", {})
            for k in keys:
                stored.pop(str(k), None)
            self._commit(meta)

    def properties(self) -> dict[str, str]:
        return dict(self._load_meta().get("properties", {}))

    @_requires("SELECT")
    def snapshot_id_at(self, ts_ms: int) -> int | None:
        """The MAIN-lineage snapshot that was current at ``ts_ms`` (the
        table's state at that instant) — None when the table had no
        snapshot yet. Resolves the timestamp bounds of
        ``TABLE(table_changes('t', TIMESTAMP '…'))`` via snapshot
        history, like Iceberg's timestamp-based changelog/time-travel
        resolution. Branch commits are excluded: they advance a ref, not
        main's state, even though they interleave in commit time —
        main's lineage is the parent chain of the current snapshot."""
        meta = self._load_meta()
        by_id = {s["id"]: s for s in meta["snapshots"]}
        main: set[int] = set()
        cur = meta.get("current_snapshot_id")
        while cur is not None and cur in by_id and cur not in main:
            main.add(cur)
            cur = by_id[cur].get("parent_id")
        eligible = [
            s["id"]
            for s in meta["snapshots"]
            if s["id"] in main and s["ts_ms"] <= ts_ms
        ]
        return eligible[-1] if eligible else None

    def _changelog_key_cols(self) -> list[str] | None:
        """Declared changelog identifier columns — the
        ``changelog.key-columns`` table property (comma-separated), the
        shim's spelling of Iceberg's identifier-field ids."""
        raw = self.properties().get("changelog.key-columns")
        if not raw:
            return None
        return [c.strip() for c in raw.split(",") if c.strip()]

    @staticmethod
    def _pair_updates(diff: DataFrame, key_cols: list[str]) -> DataFrame:
        """Pair same-key delete+insert changelog rows into
        ``update_preimage`` / ``update_postimage`` (Iceberg
        ``create_changelog_view(compute_updates=true)`` semantics). Only
        an UNAMBIGUOUS pair (exactly one delete and one insert for the
        key) is promoted; keys with any other multiplicity keep plain
        insert/delete rows — a changelog must never guess which old row
        became which new row."""
        from pyspark.sql import Window

        w = Window.partitionBy(*[F.col(c) for c in key_cols])
        is_del = F.when(F.col("_change_type") == "delete", 1).otherwise(0)
        is_ins = F.when(F.col("_change_type") == "insert", 1).otherwise(0)
        counted = diff.withColumn("__nd", F.sum(is_del).over(w)).withColumn(
            "__ni", F.sum(is_ins).over(w)
        )
        paired = (F.col("__nd") == 1) & (F.col("__ni") == 1)
        return counted.withColumn(
            "_change_type",
            F.when(
                paired & (F.col("_change_type") == "delete"),
                F.lit("update_preimage"),
            )
            .when(
                paired & (F.col("_change_type") == "insert"),
                F.lit("update_postimage"),
            )
            .otherwise(F.col("_change_type")),
        ).drop("__nd", "__ni")

    def read_changes(
        self,
        from_snapshot_id: int | None | _Beginning,
        to_snapshot_id: int | None | _Beginning = None,
        key_cols: list[str] | None = None,
        project: list[str] | None = None,
    ) -> DataFrame:
        """Row-level changelog between two snapshots — the CDC-OUT
        complement of the upsert sinks (Iceberg ``create_changelog_view`` /
        Delta ``table_changes``): one row per NET change with a
        ``_change_type`` column ('insert' | 'delete'); an updated row
        appears as its delete + its insert. ``from_snapshot_id=None``
        means "since the empty table"; ``to_snapshot_id=None`` means
        current. ``None`` therefore cannot address the empty starting
        state as a *to* bound — the module-level :data:`BEGINNING`
        sentinel can, on either bound: ``read_changes(BEGINNING, s)``
        is "empty → s" and ``read_changes(s, BEGINNING)`` is "s →
        empty" (every live row a net delete); ``(BEGINNING, BEGINNING)``
        is the empty diff.

        ``key_cols`` (or the ``changelog.key-columns`` table property)
        declares identifier columns: a key with exactly one delete and
        one insert in the range is emitted as ``update_preimage`` /
        ``update_postimage`` instead (Iceberg's ``compute_updates``) —
        what an SCD-merging CDC consumer needs to distinguish an UPDATE
        from an unrelated delete+insert.

        Append-only ranges take the :meth:`read_incremental` fast path —
        ONLY the new commit dirs are read, O(delta). Ranges containing
        rewrites / MoR deletes / upserts fall back to an exact multiset
        diff: both snapshot reads group by every column and the count
        deltas replicate out — one shuffle, no collect, O(both snapshots)
        worst case (what any engine pays to diff rewritten history).
        Float columns diff by IEEE equality (NaN groups as itself under
        GROUP BY, so NaN rows still pair up).

        ``project`` restricts the changelog to a column SUBSET (r11): the
        diff runs over the projection, so (a) the shuffle carries only
        those columns (both snapshot scans prune to them — at 100 TB the
        difference between diffing two text columns and diffing whole
        rows), and (b) an update touching only non-projected columns is
        NOT a change. The consumer contract for derived artifacts (a
        text/ANN index maintains itself from (id, payload) net changes —
        other columns are noise to it)."""
        keys = key_cols if key_cols is not None else self._changelog_key_cols()
        if from_snapshot_id is BEGINNING:
            from_snapshot_id = None  # "empty table" — same as None here
        if to_snapshot_id is BEGINNING:
            # the *to* state is the empty starting table: every row live
            # at the from-bound is a net delete; pairing never applies
            # (there is no insert side to pair with)
            old = (
                self.read(snapshot_id=from_snapshot_id)
                if from_snapshot_id is not None
                else self.read().limit(0)
            )
            if project:
                old = old.select(*project)
            return old.withColumn("_change_type", F.lit("delete"))
        try:
            delta = self.read_incremental(from_snapshot_id, to_snapshot_id)
            if project:
                delta = delta.select(*project)
            # append-only range: inserts only, nothing to pair
            return delta.withColumn("_change_type", F.lit("insert"))
        except ValueError:
            pass
        old = (
            self.read(snapshot_id=from_snapshot_id)
            if from_snapshot_id is not None
            else self.read().limit(0)
        )
        new = self.read(snapshot_id=to_snapshot_id) if to_snapshot_id \
            else self.read()
        if project:
            new = new.select(*project)
        cols = new.columns
        unmappable = [c for c, t in new.dtypes if t.startswith("map<")]
        if unmappable:
            raise ValueError(
                "read_changes over rewritten history needs GROUP BY on every "
                f"column, and map columns are not groupable: {unmappable}"
            )
        # the old snapshot reads under its EPOCH schema (possibly pre-
        # rename/pre-add-column names): align it onto the current schema
        # via the same lineage coalesce every other read surface uses
        meta = self._load_meta()
        aliases = meta.get("column_aliases", {})
        lineage = meta.get("column_lineage", {})
        present = set(old.columns)
        old = old.select(*[
            self._lineage_value(f.name, aliases, lineage, present)
            .cast(f.dataType).alias(f.name)
            for f in new.schema.fields
        ])
        # NULL-SAFE multiset diff: GROUP BY groups NULL (and NaN) with
        # itself, unlike a USING join's EqualTo — a count-weighted union
        # never fabricates delete+insert pairs for NULL-bearing rows,
        # and it's one shuffle instead of two aggregations plus a join
        weighted = new.withColumn("__w", F.lit(1)).unionByName(
            old.withColumn("__w", F.lit(-1))
        )
        j = (
            weighted.groupBy(*cols)
            .agg(F.sum("__w").alias("__d"))
            .filter(F.col("__d") != 0)
        )
        diff = (
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
        if keys and set(keys) <= set(cols):
            diff = self._pair_updates(diff, keys)
        return diff

    @_requires("WRITE", "INSERT")
    def apply_changes(
        self,
        changes: DataFrame,
        keys: list[str],
        snapshot_props: dict | None = None,
    ) -> int:
        """Apply a :meth:`read_changes`-style changelog to THIS table —
        the consumer half of CDC replication (the producer half is
        ``read_changes`` on the source): ``insert`` / ``update_postimage``
        rows upsert by ``keys`` (O(batch) equality-delete writes, no
        target scan); keys whose change is a pure ``delete`` (no
        surviving insert in the same changelog) are deleted. Requires a
        keyed source (at most one surviving row per key in the
        changelog, which ``read_changes`` over a keyed table guarantees).
        Returns the final snapshot id.

        ``snapshot_props`` rides every commit this call makes, with
        ``cdc_complete`` true only on the FINAL one — the marker the
        streaming sink's replay check keys on (a crash between
        the upsert and delete halves must re-apply the batch, which is
        state-idempotent: same upserts, same deletes)."""
        # the changelog is consumed ~5 times below (emptiness probes, the
        # pure-delete anti-join, both writes); materialize it once so a
        # read_changes-fed call never re-runs the snapshot multiset diff
        # per consumer — the frame is O(net changes), batch-sized in any
        # streaming/sync use
        changes = changes.localCheckpoint()
        cols = [c for c in changes.columns if c != "_change_type"]
        ups = changes.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).select(*cols)
        dels = (
            changes.filter(
                F.col("_change_type").isin("delete", "update_preimage")
            )
            .select(*keys)
            .join(ups.select(*keys), keys, "left_anti")
            .dropDuplicates(keys)
        )
        have_ups = bool(ups.head(1))
        have_dels = bool(dels.head(1))

        def props(final: bool) -> dict | None:
            if snapshot_props is None:
                return None
            return {**snapshot_props, "cdc_complete": final}

        sid = self._load_meta().get("current_snapshot_id")
        if have_ups:
            sid = self.upsert_equality(ups, keys, snapshot_props=props(not have_dels))
        if have_dels:
            sid = self.delete_by_key(dels, snapshot_props=props(True))
        return sid

    @_requires("WRITE", "INSERT")
    def sync_from(self, source: "LakeTable", keys: list[str] | None = None) -> dict:
        """One incremental CDC replication step: read the source's NET
        changes since the last synced snapshot (``read_changes`` — the
        producer half) and apply them here (``apply_changes`` — the
        consumer half), deletes included. The watermark is the source
        snapshot id recorded in THIS table's ``cdc.synced-snapshot-id``
        property, so calling this in a loop (or per trigger) is the
        micro-batch replication pipeline — each step costs O(changes in
        the range), never O(table). ``keys`` defaults to the source's
        declared ``changelog.key-columns``."""
        keys = keys or source._changelog_key_cols()
        if not keys:
            raise ValueError(
                "sync_from needs key columns: pass keys= or declare "
                "changelog.key-columns on the source"
            )
        last = self.properties().get("cdc.synced-snapshot-id")
        last_sid = int(last) if last else None
        cur = source._load_meta().get("current_snapshot_id")
        if cur == last_sid or cur is None:
            return {"mode": "noop", "n_changes": 0, "synced_snapshot_id": cur}
        changes = source.read_changes(last_sid, cur, key_cols=keys)
        n = changes.count()
        if n:
            self.apply_changes(changes, keys)
        self.set_properties({"cdc.synced-snapshot-id": str(cur)})
        return {"mode": "applied", "n_changes": n, "synced_snapshot_id": cur}

    @_requires("ALTER", "WRITE")
    def fold_deletes(self) -> int:
        """Consolidate EVERY outstanding merge-on-read delete file —
        position AND equality — into ONE compact position-delete dir,
        without rewriting any data file: the engine twin of Iceberg's
        ``rewrite_position_delete_files`` + equality→position conversion.

        Why it exists at 100 TB: a live CDC sink accumulates one delete
        file per batch; every read then pays one anti-join per equality
        entry. ``compact()`` folds them but rewrites the whole table —
        O(table). This pays ONE scan (coordinates only, no data rewrite):
        afterwards reads are back to a single position anti-join and
        ``drop_column`` is legal again. The delete set is the raw scan
        minus the live rows, so chained/overlapping delete files collapse
        exactly. No-op (metadata unchanged) when nothing is outstanding."""
        meta = self._load_meta()
        parent = meta.get("current_snapshot_id")
        snap = self._current_snapshot(meta)
        if snap is None or (
            not snap.get("delete_dirs") and not snap.get("eq_deletes")
        ):
            return parent
        raw = self._scan(meta, snap, deletes=False, coords=True)
        live = self._scan(meta, snap, coords=True)
        deleted = raw.select(*_COORDS).join(
            live.select(*_COORDS), list(_COORDS), "left_anti"
        )
        ddir, n = self._write_delete_dir(deleted)
        return self._commit_rewrite(
            parent, "fold", list(snap["commit_dirs"]),
            commit_filters=dict(snap.get("commit_filters", {})) or None,
            delete_dirs=[ddir] if n else None,
        )["id"]

    @_requires("ALTER", "WRITE")
    def maintain(self, target_file_mb: int = 128, keep_last: int = 3) -> None:
        """One-call table optimization — the engine twin of the reference's
        "automated table optimization" (readme.md:391-401). The unscoped
        ``compact()`` reads with all merge-on-read deletes applied and
        commits with no delete state, so it folds position AND equality
        delete files away by itself — no separate ``fold_deletes()`` pass
        (that's the lighter standalone action for folding WITHOUT a data
        rewrite)."""
        self.compact(target_file_mb)
        self.expire_snapshots(keep_last)


class Lakehouse:
    """Warehouse of snapshot-versioned tables under one root directory.

    Namespace surface mirrors ``CREATE NAMESPACE/FOLDER IF NOT EXISTS``
    (``/root/reference/spark.py:47``; ``industry-examples/
    finance_example.sql:4-7``): multi-level namespaces are directories.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        enforce_grants: bool = False,
        current_user: str | None = None,
    ):
        """``enforce_grants=True`` upgrades the advisory RBAC registry to an
        enforcement mode: table reads/writes/DDL raise ``PermissionError``
        unless ``current_user`` holds a covering grant (hierarchy-aware —
        PROJECT > FOLDER prefix > exact object; permissions.sql:1-11
        semantics). Default stays advisory, matching the reference's
        delegation of enforcement to the platform. GRANT itself stays open
        (the admin surface — a deployment fronts it with its own auth)."""
        self.spark = spark
        self.root = warehouse_dir
        self.enforce_grants = enforce_grants
        self.current_user = current_user
        os.makedirs(warehouse_dir, exist_ok=True)
        try:
            # Spark's legacy INT96 parquet timestamps carry NO column
            # min/max statistics — int64 micros (Iceberg's own encoding)
            # do, which is what makes TIME-RANGE file skipping work
            spark.conf.set(
                "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
            )
        except Exception:
            pass  # read-only contexts without conf rights still work
        # "ts" footer stats are normalized to UTC, but Spark evaluates
        # TIMESTAMP literals in session-local time: on a non-UTC session
        # time-range pruning (and the affected-only DML that reuses it)
        # would compare wall-clock literals against UTC stats. Pin the
        # session to UTC (the framework's own builder already does —
        # session.py). Safety does NOT depend on this succeeding:
        # _prune_file_lists re-checks the session timezone on every call
        # and skips "ts"-marker pruning unless it reads UTC.
        try:
            if (spark.conf.get("spark.sql.session.timeZone", "") or "") != "UTC":
                spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass  # per-call timezone gate in _prune_file_lists keeps reads safe

    # -------------------------------------------------------- namespaces

    def _ns_path(self, namespace: str) -> str:
        return os.path.join(self.root, *namespace.split("."))

    def create_namespace(self, namespace: str) -> None:
        """CREATE NAMESPACE IF NOT EXISTS a.b.c (nested ok)."""
        os.makedirs(self._ns_path(namespace), exist_ok=True)

    def list_namespaces(self, parent: str | None = None) -> list[str]:
        base = self._ns_path(parent) if parent else self.root
        if not os.path.isdir(base):
            return []
        return sorted(
            d for d in os.listdir(base)
            if os.path.isdir(os.path.join(base, d))
            and not os.path.exists(os.path.join(base, d, "metadata.json"))
        )

    # ------------------------------------------------------------ grants

    @property
    def _grants_path(self) -> str:
        return os.path.join(self.root, "_grants.json")

    def _load_grants(self) -> list[dict]:
        if not os.path.exists(self._grants_path):
            return []
        with open(self._grants_path) as f:
            return json.load(f)

    def grant(
        self,
        privileges: list[str],
        object_type: str,
        object_name: str,
        grantee_type: str,
        grantee: str,
    ) -> None:
        """``GRANT p1, p2 ON PROJECT|FOLDER|TABLE obj TO USER|ROLE who``
        (industry-examples/permissions.sql:1-11, SURVEY §2.1 S16).

        By default an advisory RBAC registry: grants are catalog metadata
        the engine records and answers queries about (:meth:`grants`,
        :meth:`has_privilege`) — the reference delegates in-job enforcement
        to the Dremio platform. Constructing the Lakehouse with
        ``enforce_grants=True`` (plus ``current_user``) opts into
        enforcement: reads/writes/DDL through :class:`LakeTable` and the
        script runner raise ``PermissionError`` without a covering grant."""
        entries = self._load_grants()
        entry = {
            "privileges": sorted({p.strip().upper() for p in privileges if p.strip()}),
            "object_type": object_type.upper(),
            "object_name": object_name or "",
            "grantee_type": grantee_type.upper(),
            "grantee": grantee,
        }
        if entry not in entries:
            entries.append(entry)
        with open(self._grants_path, "w") as f:
            json.dump(entries, f, indent=1)

    def revoke(
        self,
        privileges: list[str],
        object_type: str,
        object_name: str,
        grantee_type: str,
        grantee: str,
    ) -> None:
        """``REVOKE p1, p2 ON PROJECT|FOLDER|TABLE obj FROM USER|ROLE who``
        — the inverse of :meth:`grant`: the named privileges are removed
        from the exactly-matching registry entry (same object type/name
        and grantee); an entry left with no privileges disappears. Scope
        is exact, like Dremio: revoking at TABLE level does not carve
        holes in a covering FOLDER/PROJECT grant."""
        privs = {p.strip().upper() for p in privileges if p.strip()}
        entries = []
        for g in self._load_grants():
            if (
                g["object_type"] == object_type.upper()
                and g["object_name"] == (object_name or "")
                and g["grantee_type"] == grantee_type.upper()
                and g["grantee"] == grantee
            ):
                left = [p for p in g["privileges"] if p not in privs]
                if not left:
                    continue
                g = dict(g, privileges=left)
            entries.append(g)
        with open(self._grants_path, "w") as f:
            json.dump(entries, f, indent=1)

    def grants(self, grantee: str | None = None) -> list[dict]:
        out = self._load_grants()
        if grantee is not None:
            out = [g for g in out if g["grantee"] == grantee]
        return out

    def has_privilege(self, grantee: str, privilege: str, object_name: str = "") -> bool:
        """Hierarchy-aware check: a PROJECT grant covers every object; a
        FOLDER grant covers the folder and all descendants (dot-path
        prefix); TABLE/VIEW grants are exact-name."""
        privilege = privilege.strip().upper()
        for g in self._load_grants():
            if g["grantee"] != grantee or privilege not in g["privileges"]:
                continue
            if g["object_type"] == "PROJECT":
                return True
            scope = g["object_name"]
            if object_name == scope or object_name.startswith(scope + "."):
                return True
        return False

    # ------------------------------------------------------ enforcement

    def _require(self, privileges: tuple[str, ...], object_name: str) -> None:
        """Raise PermissionError unless ``current_user`` holds ANY of the
        privileges on the object (or a covering FOLDER/PROJECT grant)."""
        if not self.enforce_grants:
            return
        user = self.current_user
        if user is None:
            raise PermissionError(
                "enforce_grants=True but no current_user is set on the Lakehouse"
            )
        for p in privileges:
            if self.has_privilege(user, p, object_name):
                return
        raise PermissionError(
            f"user {user!r} lacks {' / '.join(privileges)} on {object_name!r}"
        )

    def _bind_acl(self, t: LakeTable) -> LakeTable:
        if self.enforce_grants:
            t._acl = self._require
        return t

    # ------------------------------------------------------------ tables

    def _table_path(self, name: str) -> str:
        return os.path.join(self.root, *name.split("."))

    def table_exists(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._table_path(name), "metadata.json"))

    def create_table(
        self,
        name: str,
        schema: str | T.StructType | None = None,
        partition_by: list[str] | None = None,
        if_not_exists: bool = True,
    ) -> LakeTable:
        """``CREATE TABLE [IF NOT EXISTS] name (schema) PARTITION BY (...)``
        (/root/reference/spark.py:52-68; finance_example.sql:15-25).
        ``partition_by`` accepts identity columns (``"price_date"``) and
        transforms (``"days(ts)"`` — hidden partitioning)."""
        path = self._table_path(name)
        if self.table_exists(name):
            if if_not_exists:
                return self._bind_acl(LakeTable(self.spark, path, name))
            raise ValueError(f"table exists: {name}")
        parent = name.rsplit(".", 1)[0] if "." in name else ""
        self._require(("CREATE TABLE", "WRITE"), parent)
        os.makedirs(os.path.join(path, "data"), exist_ok=True)
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        if schema is not None:
            schema = _nullable_type(schema)
        meta = {
            "name": name,
            "schema": schema.jsonValue() if schema is not None else None,
            "partition_by": partition_by or [],
            "snapshots": [],
            "current_snapshot_id": None,
        }
        t = LakeTable(self.spark, path, name)
        t._commit(meta)
        return self._bind_acl(t)

    def create_table_as(
        self,
        name: str,
        df: DataFrame,
        partition_by: list[str] | None = None,
        distribute_by: str | None = None,
    ) -> LakeTable:
        """CTAS [PARTITION BY (...)] [DISTRIBUTE BY (col)]
        (industry-examples/retail.sql:88-100,131-134). ``distribute_by``
        clusters data by key at write — ``repartition(col)`` ≈ Dremio
        DISTRIBUTE BY / Iceberg write.distribution-mode=hash."""
        t = self.create_table(name, df.schema, partition_by, if_not_exists=False)
        if distribute_by:
            df = df.repartition(F.col(distribute_by))
        # the initial load is part of the CREATE the user was just
        # authorized for — don't demand a separate INSERT grant
        t._acl_depth += 1
        try:
            t.overwrite(df)
        finally:
            t._acl_depth -= 1
        return t

    def table(self, name: str) -> LakeTable:
        if not self.table_exists(name):
            raise ValueError(f"no such table: {name}")
        return self._bind_acl(LakeTable(self.spark, self._table_path(name), name))

    def drop_table(self, name: str, if_exists: bool = True) -> None:
        """DROP TABLE [IF EXISTS] (retail.sql:88)."""
        import shutil

        path = self._table_path(name)
        if self.table_exists(name):
            self._require(("DROP", "WRITE"), name)
            shutil.rmtree(path)
        elif not if_exists:
            raise ValueError(f"no such table: {name}")

    def list_tables(self, namespace: str) -> list[str]:
        base = self._ns_path(namespace)
        if not os.path.isdir(base):
            return []
        return sorted(
            d for d in os.listdir(base)
            if os.path.exists(os.path.join(base, d, "metadata.json"))
        )

    def _walk_tables(self) -> list[str]:
        out = []
        for root, _dirs, names in os.walk(self.root):
            if "metadata.json" in names:
                rel = os.path.relpath(root, self.root)
                out.append(rel.replace(os.sep, "."))
        return sorted(out)

    # ------------------------------------------- automated optimization

    def table_health(self, name: str) -> dict:
        """Fragmentation metrics for one table, METADATA COST ONLY (file
        listing + sizes + the snapshot json — no data read): the signals
        the reference's automated table optimization watches
        (readme.md:391-401 "Dremio detects when table fragmentation
        affects performance")."""
        t = self.table(name)
        meta = t._load_meta()
        snap = t._current_snapshot(meta)
        sizes = [
            s for d in (snap["commit_dirs"] if snap else [])
            for _p, s in t._walk_parquet(d)
        ]
        n = len(sizes)
        return {
            "table": name,
            "n_files": n,
            "avg_file_mb": round(sum(sizes) / n / 1048576, 3) if n else 0.0,
            "n_commit_dirs": len(snap["commit_dirs"]) if snap else 0,
            "n_delete_files": (
                len(snap.get("delete_dirs", [])) + len(snap.get("eq_deletes", []))
                if snap else 0
            ),
            "n_snapshots": len(meta["snapshots"]),
        }

    def maintenance_plan(
        self,
        target_file_mb: int = 128,
        max_delete_files: int = 3,
        max_commit_dirs: int = 8,
        keep_snapshots: int = 10,
    ) -> list[dict]:
        """Recommended maintenance actions across the warehouse — the
        detection half of the reference's fully-automated optimization
        (readme.md:391-401). Per table, in execution order:

        - ``compact`` when files are fragmented (more than one file with
          average size under half the target) or commit history is deep
          (scan = union of ``n_commit_dirs`` scans) — bin-packing also
          folds any merge-on-read delete files away;
        - ``fold_deletes`` when delete files exceed ``max_delete_files``
          and compaction is NOT otherwise warranted (coordinates-only
          scan, far cheaper than a rewrite);
        - ``expire_snapshots`` when history exceeds ``keep_snapshots``.

        Pure recommendation (metadata-only); :meth:`auto_maintain`
        executes it. An empty list IS the health check."""
        plan = []
        for name in self._walk_tables():
            h = self.table_health(name)
            frag = h["n_files"] > 1 and h["avg_file_mb"] < target_file_mb / 2
            deep = h["n_commit_dirs"] > max_commit_dirs
            if frag or deep:
                plan.append({
                    "table": name, "action": "compact",
                    "reason": (
                        f"{h['n_files']} files averaging {h['avg_file_mb']} MB"
                        if frag else f"{h['n_commit_dirs']} commit dirs"
                    ),
                })
            elif h["n_delete_files"] > max_delete_files:
                plan.append({
                    "table": name, "action": "fold_deletes",
                    "reason": f"{h['n_delete_files']} merge-on-read delete files",
                })
            if h["n_snapshots"] > keep_snapshots:
                plan.append({
                    "table": name, "action": "expire_snapshots",
                    "reason": f"{h['n_snapshots']} snapshots",
                })
        return plan

    def auto_maintain(
        self,
        target_file_mb: int = 128,
        max_delete_files: int = 3,
        max_commit_dirs: int = 8,
        keep_snapshots: int = 10,
    ) -> list[dict]:
        """Execute :meth:`maintenance_plan` — the reference's "no
        scheduling of jobs" posture (readme.md:415) as one idempotent
        call: run it on any cadence; healthy tables cost one metadata
        read each and get no action. Returns the executed plan."""
        plan = self.maintenance_plan(
            target_file_mb, max_delete_files, max_commit_dirs, keep_snapshots
        )
        for step in plan:
            t = self.table(step["table"])
            if step["action"] == "compact":
                t.compact(target_file_mb)
            elif step["action"] == "fold_deletes":
                t.fold_deletes()
            elif step["action"] == "expire_snapshots":
                t.expire_snapshots(keep_last=keep_snapshots)
        return plan

    def run_script(self, sql: str, source_roots: dict[str, str] | None = None):
        """Run a (Dremio-dialect) SQL script against the warehouse — the
        'paste your workshop script at the engine' surface. DDL/DML
        (CREATE FOLDER/TABLE/CTAS, INSERT, DELETE, DROP, stacked views)
        routes to the lakehouse; queries run through the dialect layer with
        multi-part table names resolved and ``TABLE(table_snapshot/
        table_history('t'))`` TVFs mapped to metadata views. View
        definitions persist across calls (one runner per Lakehouse).
        Returns the last statement's result DataFrame, or None."""
        from .script import ScriptRunner

        if not hasattr(self, "_script_runner"):
            self._script_runner = ScriptRunner(self)
        if source_roots:
            self._script_runner.source_roots.update(source_roots)
        return self._script_runner.run(sql)

    def enable_result_cache(self) -> None:
        """Serve repeated SELECTs from the snapshot-keyed result cache
        (readme.md:405-411 'result cache'; SURVEY §4 R10): identical
        prepared SQL at identical anchor snapshots reads the materialized
        result; any anchor advance recomputes. Opt-in because every
        distinct query materializes its first result (the reference's
        result cache is likewise a warm-engine feature, not a first-run
        speedup)."""
        from .script import ScriptRunner

        if not hasattr(self, "_script_runner"):
            self._script_runner = ScriptRunner(self)
        self._script_runner.use_result_cache = True
