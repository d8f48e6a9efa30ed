"""Accelerator registry — the engine's twin of Dremio reflections (R7).

The reference registers materialized accelerations on datasets and the
platform transparently substitutes them at query time:
``ALTER DATASET dremio.demo.customer_spend CREATE REFLECTION
customer_spend_reflection USING RAW`` (``/root/reference/readme.md:320-329``)
with autonomous refresh/retire management (``readme.md:334-355,381-389``).

OSS Catalyst has no materialized-view substitution rule, so the engine
implements acceleration at the API layer (SURVEY §4 R7 plan):

- ``create_reflection(name, df)`` materializes the DataFrame into a
  :class:`~.lakeshim.Lakehouse` table and records which *anchor* lakehouse
  tables (and their snapshot ids) it was derived from.
- ``resolve(name)`` returns the materialized table **iff fresh** (every
  anchor table is still at the recorded snapshot), else recomputes from the
  definition — the "transparent substitution" contract: callers always get
  correct results; acceleration is best-effort.
- ``refresh(name)`` recomputes and re-records anchors (Dremio's
  refresh-on-data-change, readme.md:383-389).
- ``status()`` lists reflections with freshness — the observability the
  reference exposes in its reflection UI.

A result-cache variant (R10) falls out for free: a reflection over a *query*
keyed by its SQL text is exactly hash(SQL, snapshot ids) → cached table.

Routing knows two shape kinds:

- **aggregate** shapes store dims verbatim plus one partial column per
  re-aggregable measure (the partial-column rule below is the only place
  that convention is spelled). Each has two identities: the dataset it
  was declared on (a table or view, matched by name) and its canonical
  inner equi-join subtree ``(tables, keys)``. A single-table reflection is
  the one-table case, subtree ``((t,), ())``, so one registry, one rollup
  route and one incremental refresh serve both;
- **RAW** shapes store rows (of a dataset, or of a projection or
  aggregate over a join view) and serve projections and exact matches.
  They carry the same two identities: a single table is the one-table
  subtree, a join view the join it projects, so one registry and one
  serve body back the dataset-name, explicit-join and aggregate-join
  routes.

Scale: the materialized table is ordinary partitioned parquet — serving a
reflection is a plain scan, strictly cheaper than recomputing the view; the
freshness check reads only metadata JSON (O(anchors), no data IO).
"""

from __future__ import annotations

import re
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import dialect
from .lakeshim import Lakehouse

_REFLECTION_NS = "_reflections"

# ------------------------------------------------------- join-tree parse

_RE_JOIN_BASE = re.compile(r"^([\w.]+)(?:\s+(?:AS\s+)?(\w+))?$", re.I)
_RE_JOIN_SEG = re.compile(
    r"^([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+(.*)$", re.I | re.S
)
_RE_JOIN_EQ = re.compile(r"^\(?\s*(\w+)\.(\w+)\s*=\s*(\w+)\.(\w+)\s*\)?$")
_JOIN_ALIAS_KEYWORDS = {"join", "inner", "on"}


def parse_join_tree(from_txt: str):
    """Parse ``t1 [AS a] [JOIN t2 [AS b] ON a.x = b.y [AND ...] [JOIN ...]]``
    into ``(tables, join_keys, alias->table)``; join_keys entries are
    ``'tbl.col=tbl.col'``. A single table is the one-table tree with no
    keys. Returns None for anything beyond inner equi-joins (left/cross/
    theta shapes are not provably servable from a join reflection's
    materialized inner join)."""
    if re.search(r"\b(LEFT|RIGHT|FULL|CROSS|SEMI|ANTI)\b", from_txt, re.I):
        return None
    parts = re.split(r"\s+(?:INNER\s+)?JOIN\s+", from_txt.strip(), flags=re.I)
    m = _RE_JOIN_BASE.match(parts[0].strip())
    if not m or (m.group(2) or "").lower() in _JOIN_ALIAS_KEYWORDS:
        return None
    aliases = {(m.group(2) or m.group(1).split(".")[-1]): m.group(1)}
    tables = [m.group(1)]
    keys: list[str] = []
    for seg in parts[1:]:
        sm = _RE_JOIN_SEG.match(seg.strip())
        if not sm:
            return None
        tbl, alias, cond = sm.group(1), sm.group(2) or sm.group(1).split(".")[-1], sm.group(3)
        if alias in aliases:
            return None
        aliases[alias] = tbl
        tables.append(tbl)
        for conj in dialect.split_top(cond, "AND"):
            em = _RE_JOIN_EQ.match(conj)
            if not em:
                return None
            a_al, a_c, b_al, b_c = em.groups()
            if a_al not in aliases or b_al not in aliases:
                return None
            keys.append(
                "=".join(sorted((f"{aliases[a_al]}.{a_c}", f"{aliases[b_al]}.{b_c}")))
            )
    return tables, keys, aliases


# a view over an inner equi-join, optionally grouped by plain refs
_RE_JOIN_VIEW = re.compile(
    r"^\s*SELECT\s+(?P<sel>.*?)\s+FROM\s+(?P<from>.*?)"
    r"(?:\s+GROUP\s+BY\s+(?P<group>[\w.,\s]+?))?\s*;?\s*$",
    re.I | re.S,
)
_RE_JOIN_VIEW_FORBIDDEN = re.compile(
    r"\b(WHERE|HAVING|QUALIFY|LIMIT|ORDER\s+BY|UNION|INTERSECT|EXCEPT|DISTINCT)\b",
    re.I,
)

# Which aggregate functions each route serves from a measure item. A
# rollup (an aggregate reflection) merges stored partials, so it also
# serves APPROX_COUNT_DISTINCT from its HLL sketch partial; a RAW
# reflection on an aggregate join view stores finished aggregates, which
# serve only an exact match of the five simple ones.
ROLLUP_AGGS = frozenset({"SUM", "COUNT", "AVG", "MIN", "MAX", "APPROX_COUNT_DISTINCT"})
RAW_AGG_JOIN_AGGS = frozenset({"SUM", "COUNT", "AVG", "MIN", "MAX"})


def parse_measure(item: str, aggs: frozenset) -> tuple[str, str, str] | None:
    """``(AGG, arg, alias)`` of one SELECT item spelled ``AGG(arg) AS
    alias`` — the one measure grammar of every reflection route — where
    ``arg`` is ``*`` or a dotted name and ``AGG`` is in ``aggs``, the
    route's rule. None for any other item."""
    sig = [t for t in dialect.tokens(item) if t.kind not in ("ws", "com")]
    if (
        len(sig) < 6
        or sig[0].kind != "word"
        or sig[0].text.upper() not in aggs
        or sig[1].text != "("
        or sig[-3].text != ")"
        or sig[-2].text.upper() != "AS"
        or sig[-1].kind != "word"
    ):
        return None
    arg = sig[2:-3]
    dotted = len(arg) % 2 == 1 and all(
        t.kind in ("word", "ident") if i % 2 == 0 else t.text == "."
        for i, t in enumerate(arg)
    )
    if not dotted and [t.text for t in arg] != ["*"]:
        return None
    return sig[0].text.upper(), "".join(t.text for t in arg), sig[-1].text
_RE_VIEW_COL_ITEM = re.compile(r"^(\w+)\.(\w+)(?:\s+AS\s+(\w+))?$", re.I)


class JoinView(NamedTuple):
    """A view body parsed by :func:`parse_join_view`."""

    body: str
    items: list[str]  # SELECT items, stripped
    group: str | None  # GROUP BY text, None when ungrouped
    tables: list[str]
    keys: list[str]  # 'tbl.col=tbl.col'
    aliases: dict[str, str]  # alias -> table

    def passed_through(self) -> set[str]:
        """Output columns that are a source column under its own name
        (``[alias.]col`` or ``[alias.]col AS col``)."""
        out = set()
        for item in self.items:
            pm = re.match(r"^(?:(\w+)\.)?(\w+)(?:\s+AS\s+(\w+))?$", item, re.I)
            if pm and (pm.group(3) or pm.group(2)) == pm.group(2):
                out.add(pm.group(2))
        return out


def parse_join_view(body: str | None) -> JoinView | None:
    """``body`` parsed as a view over an inner equi-join of at least two
    tables — ``SELECT items FROM a JOIN b ON … [GROUP BY refs]`` with no
    WHERE, HAVING, QUALIFY, ORDER BY, LIMIT, set operation or DISTINCT —
    or None when it is not one."""
    if body is None or _RE_JOIN_VIEW_FORBIDDEN.search(body):
        return None
    m = _RE_JOIN_VIEW.match(body)
    tree = parse_join_tree(m.group("from")) if m else None
    if tree is None or len(tree[0]) < 2:
        return None
    return JoinView(
        body,
        [i.strip() for i in dialect.split_top(m.group("sel"), ",")],
        m.group("group"),
        *tree,
    )


# ------------------------------------------------- partial-column rule
#
# An aggregate reflection stores one partial column per re-aggregable
# (col, AGG) measure. The SQL surface and the advisor build definitions
# with ``partial_items``; routing, incremental refresh and registration
# read the tables below.

# stored AGG -> (delta aggregate over raw rows, merge aggregate over
# partials). HLL sketches (NDV) merge losslessly: the union sketch equals
# the sketch of the union, so an incremental refresh changes no estimate
_PARTIALS = {
    "SUM": (F.sum, F.sum),
    "COUNT": (F.count, F.sum),
    "MIN": (F.min, F.min),
    "MAX": (F.max, F.max),
    "NDV": (F.hll_sketch_agg, F.hll_union_agg),
}
# query AGG -> the stored partials it rolls up from (AVG is never stored:
# it is not re-aggregable, SUM / COUNT finalize it)
_ROLLUP = {
    "SUM": ("SUM",),
    "COUNT": ("COUNT",),
    "MIN": ("MIN",),
    "MAX": ("MAX",),
    "AVG": ("SUM", "COUNT"),
    "APPROX_COUNT_DISTINCT": ("NDV",),
}


def partials_needed(agg: str, col: str) -> list[tuple[str, str]]:
    """Stored ``(col, AGG)`` partials the measure ``agg(col)`` rolls up
    from: AVG from SUM and COUNT, APPROX_COUNT_DISTINCT from an HLL
    sketch (NDV), any other AGG from itself. ``agg`` is upper case."""
    return [(col, p) for p in _ROLLUP.get(agg, (agg,))]


def partial_column(col: str, agg: str) -> str:
    """Stored column of one partial: ``n_rows`` for COUNT(*), ``<col>_hll``
    for an NDV sketch, else ``<col>_<agg>``."""
    if col == "*":
        return "n_rows"
    return f"{col}_{'hll' if agg == 'NDV' else agg.lower()}"


def partial_items(
    measures: list[tuple[str, str]], src: Callable[[str], str] | None = None
) -> list[str]:
    """SELECT items that compute the partials of ``measures`` ((col, AGG)
    pairs) in a reflection's definition. ``src`` maps a stored column name
    to its spelling in the definition's FROM (an alias-qualified join
    column); by default the name is spelled as stored."""
    out = []
    for col, agg in measures:
        fn = "hll_sketch_agg" if agg == "NDV" else agg
        arg = col if col == "*" or src is None else src(col)
        out.append(f"{fn}({arg}) AS {partial_column(col, agg)}")
    return out


def _serve_expr(agg: str, col: str):
    """The rollup of the query measure ``agg(col)`` over stored partials,
    or None for an AGG no partial serves."""
    if agg not in _ROLLUP:
        return None
    merged = [
        _PARTIALS[p][1](partial_column(c, p)) for c, p in partials_needed(agg, col)
    ]
    if agg == "AVG":
        return merged[0] / merged[1]
    if agg == "APPROX_COUNT_DISTINCT":
        # union the per-group sketches, then estimate — the rollup is exact
        # over the sketch state (both the reflection and this finalize are
        # DataSketches HLL; an inline approx_count_distinct uses HLL++ and
        # may estimate slightly differently — both approximate the same
        # NDV, which is the approx-measure contract)
        return F.hll_sketch_estimate(merged[0])
    return merged[0]


class AcceleratorRegistry:
    def __init__(self, lake: Lakehouse):
        self.lake = lake
        self.lake.create_namespace(_REFLECTION_NS)
        # optional hook run before executing a SQL-defined reflection's
        # definition: hosts whose SQL resolves against session temp views
        # (ScriptRunner) re-register them here, so refresh()/resolve()
        # called OUTSIDE a script never materialize a stale view of the
        # anchors while recording their current snapshot ids
        self.prepare_sql: Callable[[], None] | None = None
        # optional hook: is this dataset name a (logical) view of the host
        # SQL surface? Incremental AGGREGATE refresh must refuse shapes
        # registered over views — a view's rows are derived/filtered, so
        # merging the raw anchor's delta would corrupt the stored partials
        self.is_view: Callable[[str], bool] | None = None
        # optional hook: current body SQL of a (possibly leaf-named)
        # logical view, or None if not a view. Shapes registered over a
        # view record the body at registration; routing compares it with
        # the CURRENT body and refuses on drift — is_fresh only watches
        # anchor snapshots, so a redefined view with unchanged anchors
        # would otherwise serve the OLD definition's materialization
        self.view_body: Callable[[str], str | None] | None = None
        # optional hook: canonical full name for a dataset reference
        # (resolves leaf view names); tables default to _resolve_dataset
        self.canonical_dataset: Callable[[str], str | None] | None = None
        # name -> (definition thunk, anchor table names)
        self._defs: dict[str, tuple[Callable[[], DataFrame], list[str]]] = {}
        # name -> {anchor: snapshot_id} recorded at materialization
        self._anchors: dict[str, dict[str, int | None]] = {}
        # name -> {anchor: schema-epoch} (len of the anchor's schema_log)
        # recorded at materialization. Schema evolution (add/rename/drop/
        # widen) is a metadata-only commit that does NOT advance
        # current_snapshot_id, yet it changes what a read returns (a
        # dropped-then-re-added column reads NULL; a rename changes result
        # columns) — without this, is_fresh would keep serving the
        # pre-evolution materialization
        self._epochs: dict[str, dict[str, int]] = {}
        # name -> SQL text, for reflections whose definition IS a SQL string
        # (these survive process restarts via the registry file)
        self._sql_defs: dict[str, str] = {}
        # name -> {"dataset", "tables", "keys", "dims", "measures":
        # [(col, AGG), ...], "view_body"} for AGGREGATE reflections whose
        # storage follows the partial-column rule — the shapes subset
        # routing can serve. "dataset" is the table or view the reflection
        # was declared on (None for a join registered without one);
        # "tables"/"keys" its canonical inner equi-join subtree, one table
        # and no keys for a single dataset (a reflection on a join view
        # serves any query over the same join with subset dims —
        # readme.md:331-355; the workshop's customer_spend IS a join view,
        # readme.md:307-329)
        self._agg_shapes: dict[str, dict] = {}
        # name -> {"dataset", "tables", "keys", "colmap", "aggs",
        # "all_cols", "view_body"} for RAW reflections (raw rows of a
        # dataset, optionally a column subset — ALTER DATASET ... CREATE
        # REFLECTION ... USING RAW / USING DISPLAY(cols), readme.md:320-326):
        # see :meth:`_raw_shape`
        self._raw_shapes: dict[str, dict] = {}
        self._load_registry()

    # ------------------------------------------------------- persistence

    @property
    def _registry_path(self) -> str:
        import os

        return os.path.join(self.lake.root, _REFLECTION_NS, "registry.json")

    def _save_registry(self) -> None:
        """Persist SQL-defined reflections (name, SQL, anchors, recorded
        snapshot ids). Thunk-defined reflections are code and stay
        session-scoped — same split as Dremio (SQL datasets persist; ad-hoc
        acceleration is per-session)."""
        import json
        import os

        entries = {
            name: {
                "sql": sql,
                "anchors": self._defs[name][1],
                "anchor_snapshots": self._anchors.get(name, {}),
                "anchor_epochs": self._epochs.get(name, {}),
                **(
                    {"agg_shape": self._agg_shapes[name]}
                    if name in self._agg_shapes
                    else {}
                ),
                **(
                    {"raw_shape": self._raw_shapes[name]}
                    if name in self._raw_shapes
                    else {}
                ),
            }
            for name, sql in self._sql_defs.items()
        }
        tmp = self._registry_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entries, f, indent=1)
        os.replace(tmp, self._registry_path)

    def _load_registry(self) -> None:
        import json
        import os

        if not os.path.exists(self._registry_path):
            return
        with open(self._registry_path) as f:
            entries = json.load(f)
        for name, e in entries.items():
            sql = e["sql"]
            self._sql_defs[name] = sql
            self._defs[name] = (
                (lambda s=sql: self._run_sql(s)),
                list(e["anchors"]),
            )
            self._anchors[name] = dict(e["anchor_snapshots"])
            # registries written before schema-epoch tracking lack the key:
            # leave the entry epoch-less so is_fresh reports stale once and
            # the refresh records proper epochs
            if "anchor_epochs" in e:
                self._epochs[name] = dict(e["anchor_epochs"])
            if "agg_shape" in e or "join_shape" in e:
                # older registries kept a join subtree under its own
                # "join_shape" key and a single dataset's shape without one
                shape = {**e.get("join_shape", {}), **e.get("agg_shape", {})}
                if "tables" not in shape:
                    t, k = self._canonical_join([shape["dataset"]], [])
                    shape["tables"], shape["keys"] = list(t), list(k)
                shape.setdefault("dataset", None)
                shape["measures"] = [tuple(m) for m in shape["measures"]]
                self._agg_shapes[name] = shape
            if "raw_shape" in e:
                shape = e["raw_shape"]
                if "colmap" not in shape:
                    # older registries kept only the DISPLAY columns here
                    # (and a join view's subtree under its own
                    # "raw_join_shape" key): derive both identities again
                    shape = self._raw_shape(
                        shape["dataset"], shape["cols"], shape["view_body"]
                    )
                self._raw_shapes[name] = shape

    # ----------------------------------------------------------- helpers

    def _run_sql(self, sql: str) -> DataFrame:
        # re-entrancy guard: the prepare hook (ScriptRunner._refresh) itself
        # resolves reflections, whose definitions land back here — the
        # nested call runs against the views the outer prepare has already
        # registered (tables first), without preparing again
        if self.prepare_sql is not None and not getattr(self, "_preparing", False):
            self._preparing = True
            try:
                self.prepare_sql()
            finally:
                self._preparing = False
        return self.lake.spark.sql(sql)

    def _current_snapshot_ids(self, anchor_tables: list[str]) -> dict[str, int | None]:
        out: dict[str, int | None] = {}
        for t in anchor_tables:
            meta = self.lake.table(t)._load_meta()
            out[t] = meta["current_snapshot_id"]
        return out

    def _current_epochs(self, anchor_tables: list[str]) -> dict[str, int]:
        """Schema epoch per anchor: every evolution pushes one schema_log
        entry, so the log length is a monotone evolution counter."""
        return {
            t: len(self.lake.table(t)._load_meta().get("schema_log", []))
            for t in anchor_tables
        }

    def _record_anchor_state(self, name: str, anchor_tables: list[str]) -> None:
        self._anchors[name] = self._current_snapshot_ids(anchor_tables)
        self._epochs[name] = self._current_epochs(anchor_tables)

    def _storage_name(self, name: str) -> str:
        return f"{_REFLECTION_NS}.{name}"

    def _resolve_dataset(self, dataset: str) -> str | None:
        """Full lake-table name ``dataset`` denotes, or None if it is not a
        table (a view, or an ambiguous/unknown leaf reference)."""
        if self.is_view is not None and self.is_view(dataset):
            return None
        if self.lake.table_exists(dataset):
            return dataset
        matches = [
            t for t in self.lake._walk_tables() if t.split(".")[-1] == dataset
        ]
        return matches[0] if len(matches) == 1 else None

    # --------------------------------------------------------------- API

    def create_reflection(
        self,
        name: str,
        definition: Callable[[], DataFrame] | str,
        anchor_tables: list[str],
        partition_by: list[str] | None = None,
    ) -> None:
        """``ALTER DATASET … CREATE REFLECTION name USING RAW``
        (readme.md:322-326). ``definition`` is a zero-arg thunk returning the
        view DataFrame (thunk, not DataFrame, so refresh re-reads anchors at
        their *new* snapshots) or a SQL string — SQL-defined reflections
        persist across sessions in the registry file. RAW vs AGGREGATION
        reflections differ only in what the definition computes."""
        if isinstance(definition, str):
            sql = definition
            self._sql_defs[name] = sql
            definition = lambda: self._run_sql(sql)  # noqa: E731
        else:
            self._sql_defs.pop(name, None)
        self._defs[name] = (definition, anchor_tables)
        self.lake.drop_table(self._storage_name(name))
        self.lake.create_table_as(self._storage_name(name), definition(), partition_by)
        self._record_anchor_state(name, anchor_tables)
        self._save_registry()

    def is_fresh(self, name: str) -> bool:
        if name not in self._anchors:
            return False
        _, anchor_tables = self._defs[name]
        if self._current_snapshot_ids(anchor_tables) != self._anchors[name]:
            return False
        # schema evolution is a metadata-only commit (same snapshot id) but
        # changes read results — any evolution since materialization is
        # staleness; entries without a recorded epoch (pre-upgrade registry
        # files) refresh once to record one
        return self._current_epochs(anchor_tables) == self._epochs.get(name)

    def _storage(self, name: str):
        """Reflection storage handle with the grants check BYPASSED: a
        routed/resolved read serves an internal materialization of data the
        user was already authorized to read on the queried dataset, so
        routing must never make a permitted query fail with a
        PermissionError on the internal ``_reflections`` namespace."""
        t = self.lake.table(self._storage_name(name))
        t._acl = None
        return t

    def resolve(self, name: str) -> DataFrame:
        """Transparent substitution: materialized scan when fresh, live
        recompute when stale (correctness always wins — readme.md:334-344
        'queries are automatically accelerated … always up to date')."""
        definition, _ = self._defs[name]
        if self.is_fresh(name):
            return self._storage(name).read()
        return definition()

    def refresh(self, name: str) -> None:
        """Re-materialize from current anchor snapshots (readme.md:383-389)."""
        definition, anchor_tables = self._defs[name]
        self.lake.table(self._storage_name(name)).overwrite(definition())
        self._record_anchor_state(name, anchor_tables)
        if name in self._sql_defs:
            self._save_registry()

    def refresh_incremental(self, name: str, delta_definition: Callable[[DataFrame], DataFrame]) -> bool:
        """Incremental refresh for single-anchor RAW reflections (row-wise
        definitions — project/filter/enrich): apply ``delta_definition`` to
        only the rows appended since the recorded snapshot and append the
        result (Dremio's incremental reflection refresh, readme.md:383-389;
        built on :meth:`~.lakeshim.LakeTable.read_incremental`).

        Returns True if the incremental path applied; False means history
        had non-append commits (or multi-anchor) — caller falls back to
        ``refresh()``. Cost is O(new data), not O(table)."""
        _, anchor_tables = self._defs[name]
        if len(anchor_tables) != 1:
            return False
        anchor = anchor_tables[0]
        recorded = self._anchors.get(name, {}).get(anchor)
        if recorded is None:
            return False
        t = self.lake.table(anchor)
        try:
            delta = t.read_incremental(recorded)
        except ValueError:
            return False
        self.lake.table(self._storage_name(name)).append(delta_definition(delta))
        self._record_anchor_state(name, anchor_tables)
        if name in self._sql_defs:
            self._save_registry()
        return True

    def refresh_incremental_agg(self, name: str) -> bool:
        """Incremental refresh for AGGREGATE reflections — Dremio's
        incremental reflection refresh (readme.md:383-389). When exactly
        ONE table of the shape's subtree grew by append-only commits, the
        new contribution is ``delta ⋈ (other sides)``: inner join
        distributes over union on either input, and a single table has no
        other sides. That contribution is aggregated into delta partials
        and merged into the stored partials with the rollup algebra
        (sum-of-sums / sum-of-counts / min-of-mins / max-of-maxs / HLL
        union), value-identical to a full recompute. Typical cost: the
        appended rows join the (usually broadcast-size) other sides —
        O(delta + groups), never a full re-read.

        Returns False — the caller falls back to :meth:`refresh` — when
        the subtree is not the reflection's anchors (a shape declared on a
        non-join view: its rows are derived, so merging the raw anchor's
        delta would corrupt the partials), on self-joins, when no table or
        several tables advanced, or when the advanced table's history is
        not append-only (a dim-side UPDATE/DELETE)."""
        shape = self._agg_shapes.get(name)
        if shape is None or name not in self._defs:
            return False
        _, anchor_tables = self._defs[name]
        tables = shape["tables"]
        if set(anchor_tables) != set(tables) or len(set(tables)) != len(tables):
            return False
        # recorded None = the reflection was registered on an EMPTY table
        # (e.g. a streaming sink's table before its first batch): every
        # row is the delta, same all-append requirement
        recorded = self._anchors.get(name, {})
        if any(t not in recorded for t in tables):
            return False
        advanced = [
            t
            for t in tables
            if self.lake.table(t)._load_meta()["current_snapshot_id"]
            != recorded[t]
        ]
        if len(advanced) != 1:
            return False
        frames: dict[str, DataFrame] = {}
        try:
            for t in tables:
                lt = self.lake.table(t)
                frames[t] = (
                    lt.read_incremental(recorded[t]) if t in advanced else lt.read()
                )
        except ValueError:
            return False  # non-append history on the advanced side
        joined = self._execute_join(frames, shape["keys"])
        if joined is None:
            return False
        dims = shape["dims"]
        delta_aggs, merge_aggs = [], []
        for col, agg in shape["measures"]:
            delta, merge = _PARTIALS[agg]
            cname = partial_column(col, agg)
            delta_aggs.append(delta(col).alias(cname))
            merge_aggs.append(merge(cname).alias(cname))
        storage = self.lake.table(self._storage_name(name))
        try:
            merged = (
                storage.read()
                .unionByName(joined.groupBy(*dims).agg(*delta_aggs))
                .groupBy(*dims)
                .agg(*merge_aggs)
            )
        except Exception:
            # an ambiguous bare name, or storage columns that drifted from
            # the partial-column rule (a definition with custom casts):
            # correctness wins, full refresh
            return False
        storage.overwrite(merged)
        self._record_anchor_state(name, anchor_tables)
        if name in self._sql_defs:
            self._save_registry()
        return True

    @staticmethod
    def _execute_join(
        frames: dict[str, DataFrame], keys: list[str]
    ) -> DataFrame | None:
        """Inner-join the per-table frames along canonical ``'t1.c1=t2.c2'``
        key pairs, attaching one new table per step (star/snowflake
        shapes); a key whose tables are both already joined becomes a
        post-filter. Returns None on a disconnected or unparsable tree."""
        if not keys:  # a one-table subtree
            return next(iter(frames.values())) if len(frames) == 1 else None
        pairs = []
        for k in keys:
            a, b = k.split("=")
            ta, _, ca = a.rpartition(".")
            tb, _, cb = b.rpartition(".")
            if not ta or not tb:
                return None
            pairs.append((ta, ca, tb, cb))
        first = pairs[0][0]
        joined = frames.get(first)
        if joined is None:
            return None
        in_join = {first}
        pending = list(pairs)
        while pending:
            for p in pending:
                ta, ca, tb, cb = p
                if ta in in_join and tb in in_join:
                    joined = joined.filter(frames[ta][ca] == frames[tb][cb])
                    pending.remove(p)
                    break
                new = None
                if ta in in_join and tb in frames and tb not in in_join:
                    new = tb
                elif tb in in_join and ta in frames and ta not in in_join:
                    new = ta
                if new is not None:
                    joined = joined.join(
                        frames[new], frames[ta][ca] == frames[tb][cb], "inner"
                    )
                    in_join.add(new)
                    pending.remove(p)
                    break
            else:
                return None  # disconnected join graph
        if in_join != set(frames):
            return None
        return joined

    def register_agg_shape(
        self,
        name: str,
        dataset: str,
        dims: list[str],
        measures: list[tuple[str, str]],
        view_body: str | None = None,
    ) -> None:
        """Record that reflection ``name`` materializes ``SELECT dims,
        partials FROM dataset GROUP BY dims`` under the partial-column rule
        — the one-table case of :meth:`register_join_agg_shape`, declared
        on ``dataset`` (a table, or a view whose ``view_body`` is checked
        for drift at route time)."""
        self.register_join_agg_shape(
            name, [dataset], [], dims, measures, view_body=view_body, dataset=dataset
        )

    # SQL keywords / literals that may appear inside a WHERE predicate and
    # are NOT column references
    _PRED_KEYWORDS = frozenset(
        "and or not in between like ilike rlike is null true false escape "
        "case when then else end distinct interval date timestamp exists "
        "cast as div mod".split()
    )
    # nondeterministic (or evaluation-time-dependent) functions: filtering
    # the MATERIALIZED PARTIALS with e.g. rand() < 0.5 samples GROUPS, not
    # raw ROWS — systematically different from the plain plan — and
    # current_timestamp() evaluated at routing time diverges from the
    # plain plan's evaluation. Predicates containing any of these are
    # never routed.
    _PRED_NONDETERMINISTIC = frozenset(
        "rand randn random uuid shuffle monotonically_increasing_id "
        "current_timestamp current_date current_timezone now localtimestamp "
        "curdate current_user session_user user input_file_name "
        "spark_partition_id".split()
    )

    @staticmethod
    def _pred_tokens(where: str) -> list[tuple[str, str, dialect.Token]]:
        """``(kind, name, token)`` for each non-blank token of ``where``:
        kind ``id`` for an identifier — bare, after ``.``, or quoted, with
        ``name`` its unquoted text — else the lexer's kind."""
        out = []
        for t in dialect.tokens(where):
            if t.kind == "qid":
                out.append(("id", t.text[1:-1], t))
            elif t.kind in ("word", "ident") and not t.text[0].isdigit():
                out.append(("id", t.text, t))
            elif t.kind not in ("ws", "com"):
                out.append((t.kind, t.text, t))
        return out

    @classmethod
    def _predicate_columns(cls, where: str) -> set[str] | None:
        """Column names a predicate references (identifiers outside string
        literals, excluding keywords and function names). Returns None when
        the predicate has a shape we can't attribute (qualified ``a.b``
        refs, subqueries) — callers must then NOT serve from a reflection.
        A Dremio ``"name"`` also returns None: these callers hand the
        predicate to Spark as written, where it is a string literal."""
        cols: set[str] = set()
        toks = cls._pred_tokens(where)
        for i, (kind, name, t) in enumerate(toks):
            if kind != "id":
                continue
            if t.text[0] == '"':
                return None
            nxt = toks[i + 1][1] if i + 1 < len(toks) else ""
            low = name.lower()
            if nxt == "(":
                if low in cls._PRED_NONDETERMINISTIC:
                    return None  # nondeterministic fn: never route
                continue  # function name, not a column
            if nxt == "." or not re.fullmatch(r"\w+", name):
                return None  # qualified ref: can't prove it's a dim
            if low == "select":
                return None  # subquery: not servable from partials
            if low not in cls._PRED_KEYWORDS:
                cols.add(name)
        return cols

    def route_aggregate(
        self,
        dataset: str,
        dims: list[str],
        measures: list[tuple[str, str, str]],
        where: str | None = None,
    ) -> DataFrame | None:
        """Serve ``SELECT dims, aggs FROM dataset [WHERE pred] GROUP BY
        dims`` from a FRESH aggregate reflection declared on ``dataset``
        (matched by canonical name, :meth:`_canon_ds`) whose dims are a
        superset and whose stored partials cover every requested measure —
        Dremio's covered-query substitution (readme.md:331-355: a
        reflection 'accelerates any query it covers', not only its
        defining query). The workshop's own demo shape is
        ``customer_spend`` queried per-city (readme.md:307-329).
        Conditions and serving: :meth:`_route_rollup`."""
        want = self._canon_ds(dataset)
        return self._route_rollup(
            lambda shape: shape["dataset"] is not None
            and self._canon_ds(shape["dataset"]) == want,
            dims, measures, where,
        )

    def _route_rollup(
        self, match, dims: list[str], measures, where: str | None
    ) -> DataFrame | None:
        """The one aggregate route: the first registered shape that
        ``match`` accepts, whose view (if any) has not been redefined,
        whose dims cover ``dims`` and every column of ``where``, whose
        partials cover every measure and which is FRESH, re-aggregated to
        ``dims`` with the rollup algebra. None when there is none (the
        caller runs the plain plan).

        ``where`` may reference ONLY the shape's dimension columns — dims
        are stored raw (one row per fine-grained dim group, every raw row
        in a group shares its dim values), so filtering the materialized
        partials before the rollup is EXACT; a predicate touching a
        measure or an unknown name falls back. It rides the storage read,
        so file-level data skipping prunes the reflection's files too.

        ``measures``: (AGG, col, out_alias), served by :func:`_serve_expr`:
        SUM = SUM(col_sum), COUNT(col) = SUM(col_count), COUNT(*) =
        SUM(n_rows), MIN = MIN(col_min), MAX = MAX(col_max), AVG =
        SUM(col_sum)/SUM(col_count). The reflection has one row per
        fine-grained dim group, so this re-aggregation scans O(groups)
        rows — at 100 TB it replaces the query's scan and, for a join
        subtree, its largest shuffle."""
        pred_cols = None
        if where is not None:
            pred_cols = self._predicate_columns(where)
            if pred_cols is None:
                return None
        need = {p for agg, col, _ in measures for p in partials_needed(agg, col)}
        for name, shape in self._agg_shapes.items():
            if name not in self._defs or not match(shape):
                continue
            if self._view_drifted(shape):
                continue  # view redefined since materialization
            shape_dims = set(shape["dims"])
            if not set(dims) <= shape_dims:
                continue
            if pred_cols is not None and not pred_cols <= shape_dims:
                continue  # predicate touches a non-dim column: not exact
            if not need <= set(shape["measures"]):
                continue
            if not self.is_fresh(name):
                continue  # stale: correctness wins, plain plan runs
            aggs = [_serve_expr(agg, col) for agg, col, _ in measures]
            if any(e is None for e in aggs):
                return None
            return (
                self._storage(name)
                .read(where=where)
                .groupBy(*dims)
                .agg(*[e.alias(alias) for e, (_, _, alias) in zip(aggs, measures)])
            )
        return None

    # ------------------------------------------------- dataset identity

    def _canon_ds(self, dataset: str) -> str:
        """Canonical name for a dataset reference: the host surface's
        resolution (leaf view names -> full view names) when hooked, else
        lake-table resolution, else the spelling itself. Lets a query
        written ``FROM gold_view`` match a shape registered on
        ``db.gold_view`` (the workshop declares reflections on VIEWS and
        queries them by either spelling, readme.md:307-329)."""
        if self.canonical_dataset is not None:
            try:
                c = self.canonical_dataset(dataset)
            except Exception:
                c = None
            if c:
                return c
        return self._resolve_dataset(dataset) or dataset

    def _view_drifted(self, shape: dict) -> bool:
        """True when the shape was registered over a VIEW whose body has
        since been redefined: is_fresh only watches anchor snapshots, so
        the materialization may hold the OLD definition's rows while the
        anchors never moved — routing must refuse (plain plan wins)."""
        recorded = shape.get("view_body")
        if recorded is None or self.view_body is None:
            return False
        ds = shape.get("dataset")
        if ds is None:
            return True  # body recorded but no view name to verify against
        try:
            current = self.view_body(ds)
        except Exception:
            return True
        norm = lambda s: re.sub(r"\s+", " ", s).strip().rstrip(";").lower()  # noqa: E731
        return current is None or norm(current) != norm(recorded)

    # --------------------------------------------------- RAW reflections

    def register_raw_shape(
        self,
        name: str,
        dataset: str,
        cols: list[str] | None = None,
        view_body: str | None = None,
    ) -> None:
        """Record that reflection ``name`` stores the RAW ROWS of
        ``dataset`` — ``ALTER DATASET … CREATE REFLECTION … USING RAW``
        (readme.md:320-326) / ``USING DISPLAY(cols)`` (a column subset).
        Unlike an aggregate shape there is no partial-column convention:
        storage is one row per dataset row, so any projection / filter /
        ORDER / LIMIT over the stored columns is exactly servable
        (readme.md:331-355 'accelerates any query it covers' — the
        workshop's headline example IS a RAW reflection). ``view_body``:
        the defining SQL when ``dataset`` is a logical view, checked for
        drift at route time; a join view's body also gives the shape its
        join subtree, so the same join spelled out routes here too."""
        self._raw_shapes[name] = self._raw_shape(dataset, cols, view_body)
        if name in self._sql_defs:
            self._save_registry()

    def _raw_shape(
        self, dataset: str, cols: list[str] | None, view_body: str | None
    ) -> dict:
        """A RAW shape's two identities: ``dataset``, and its canonical
        ``(tables, keys)`` subtree — ``((t,), ())`` for a table, the join a
        plain projection or aggregate join view spells, None for any other
        view. ``colmap`` maps source refs to stored columns: identity for a
        dataset's DISPLAY columns, None for USING RAW on a table or a
        non-join view (every stored column), the view's projection for a
        join view. An aggregate join view (the workshop's
        ``customer_spend``) keeps its GROUP BY dims in ``colmap`` and its
        measures in ``aggs`` — [[AGG, src_ref|'*', stored_name], …].
        ``all_cols``: the reflection stores every dataset column (USING
        RAW), so it serves ``SELECT *``."""
        sub = self._raw_subtree(view_body, cols)
        if sub is not None:
            tables, keys, colmap, aggs = sub
        else:
            table = None if view_body is not None else self._resolve_dataset(dataset)
            tables, keys = ([table], []) if table else (None, None)
            colmap = None if cols is None else {c: c for c in cols}
            aggs = None
        return {
            "dataset": dataset,
            "tables": tables,
            "keys": keys,
            "colmap": colmap,
            "aggs": aggs,
            "all_cols": cols is None,
            "view_body": view_body,
        }

    def _raw_subtree(self, view_body: str | None, cols: list[str] | None):
        """``(tables, keys, colmap, aggs)`` of a RAW reflection on a join
        view whose every item is a column of one join side (``alias.col
        [AS out]``) or, when grouped, a simple aggregate ``AGG(alias.col)
        AS out`` with every GROUP BY ref projected — restricted to the
        DISPLAY ``cols``. None when the view is not one: a bare, starred or
        computed item's source cannot be proven, and a DISPLAY subset that
        drops a dim or every measure of a grouped view leaves no exact
        aggregate match (its stored rows are groups, never join rows);
        view-name routing remains."""
        jv = parse_join_view(view_body)
        if jv is None:
            return None

        def src_of(ref: str) -> str | None:
            al, _, col = ref.partition(".")
            t = jv.aliases.get(al) if col and "." not in col else None
            return f"{self._resolve_dataset(t) or t}.{col}" if t else None

        group = None
        if jv.group is not None:
            group = {src_of(g.strip()) for g in jv.group.split(",") if g.strip()}
            if None in group:
                return None
        colmap: dict[str, str] = {}
        aggs: list[list[str]] = []
        for item in jv.items:
            am = parse_measure(item, RAW_AGG_JOIN_AGGS) if group is not None else None
            if am:
                src = "*" if am[1] == "*" else src_of(am[1])
                if src is None:
                    return None
                aggs.append([am[0], src, am[2]])
                continue
            pm = _RE_VIEW_COL_ITEM.match(item)
            src = src_of(f"{pm.group(1)}.{pm.group(2)}") if pm else None
            if src is None or (group is not None and src not in group):
                return None
            colmap[src] = pm.group(3) or pm.group(2)
        if cols is not None:
            colmap = {s: o for s, o in colmap.items() if o in cols}
            aggs = [a for a in aggs if a[2] in cols]
        if not colmap or (group is not None and (set(colmap) != group or not aggs)):
            return None
        tables, keys = self._canonical_join(jv.tables, jv.keys)
        return list(tables), list(keys), colmap, aggs or None

    def _resolver(self, colmap: dict[str, str], aliases: dict[str, str] | None = None):
        """``ref -> stored column`` over ``colmap`` (source ref -> stored
        column), None when ``ref`` is not covered. A qualified ``alias.col``
        / ``tbl.col`` resolves through the query's ``aliases`` and the
        canonical table name; a bare name only when exactly ONE source
        column spells it (a join makes bare names ambiguous otherwise)."""
        aliases = aliases or {}

        def resolve(ref: str) -> str | None:
            tbl, _, col = ref.rpartition(".")
            if tbl:
                tbl = aliases.get(tbl, tbl)
                return colmap.get(f"{self._resolve_dataset(tbl) or tbl}.{col}")
            hits = [v for s, v in colmap.items() if s.rpartition(".")[2] == ref]
            return hits[0] if len(hits) == 1 else None

        return resolve

    def _serve_raw(
        self,
        plan,
        where: str | None,
        order: list[tuple[str, bool]] | None,
        limit: int | None,
    ) -> DataFrame | None:
        """The one RAW serve. For each registered shape whose view (if any)
        has not been redefined, ``plan(name, shape)`` matches it and
        returns ``(resolve, select)`` — the route's ref resolver and
        [(stored column, output name)], or None for ``SELECT *`` — else
        None. The first shape whose select, ``where`` and ``order`` refs all
        resolve to stored columns and which is FRESH is read once, the
        rewritten predicate riding the storage read (file-level data
        skipping prunes the reflection's files), then ordered, projected
        and limited. None when no shape serves — the caller runs the plain
        plan. ``order`` is [(ref, desc)]; an output name wins over a
        source column of the same name, as in SQL."""
        for name, shape in self._raw_shapes.items():
            if name not in self._defs or self._view_drifted(shape):
                continue
            planned = plan(name, shape)
            if planned is None:
                continue
            resolve, select = planned
            if select is not None and any(s is None for s, _ in select):
                continue  # a selected column is not stored
            w = None
            if where is not None:
                w = self._rewrite_pred_to_stored(where, resolve)
                if w is None:
                    continue
            out_to_stored = {o: s for s, o in select or []}
            ords = [(out_to_stored.get(ref) or resolve(ref), d) for ref, d in order or []]
            if any(s is None for s, _ in ords):
                continue
            if not self.is_fresh(name):
                continue  # stale: correctness wins, plain plan runs
            df = self._storage(name).read(where=w)
            if ords:
                df = df.orderBy(*[F.col(s).desc() if d else F.col(s).asc() for s, d in ords])
            if select is not None:
                df = df.select(*[F.col(s).alias(o) for s, o in select])
            return df.limit(limit) if limit is not None else df
        return None

    def _stored_columns(self, name: str, shape: dict) -> list[str]:
        """Columns the reflection stores, in storage order for USING RAW
        shapes without a colmap (read from the storage's metadata, not a
        scan)."""
        if shape["colmap"] is None:
            meta = self._storage(name)._load_meta()
            return [f["name"] for f in (meta.get("schema") or {}).get("fields", [])]
        return [*shape["colmap"].values(), *(a[2] for a in shape["aggs"] or [])]

    def route_raw(
        self,
        dataset: str,
        cols: list[str] | None,
        where: str | None = None,
        order: list[tuple[str, bool]] | None = None,
        limit: int | None = None,
    ) -> DataFrame | None:
        """Serve ``SELECT cols FROM dataset [WHERE pred] [ORDER BY …]
        [LIMIT n]`` from a FRESH RAW reflection declared on ``dataset``
        (matched by canonical name, :meth:`_canon_ds`) covering the
        referenced columns — the non-aggregate half of Dremio's
        covered-query substitution (readme.md:331-355; the workshop's
        ``customer_spend_reflection USING RAW``, readme.md:320-326).

        ``cols=None`` means ``SELECT *`` — served only by a full USING RAW
        reflection, since a DISPLAY-subset one cannot prove it stores every
        dataset column. ``where`` may reference ANY stored column (raw
        rows: filtering is exact, no dim/measure split). ``order`` is
        [(col, desc)] over stored columns. At 100 TB this replaces a wide
        fact scan with a scan of the (narrow, pre-projected, pruned)
        reflection storage. Serving: :meth:`_serve_raw`."""
        want = self._canon_ds(dataset)

        def plan(name, shape):
            if self._canon_ds(shape["dataset"]) != want:
                return None
            if cols is None and not shape["all_cols"]:
                return None
            resolve = self._resolver({c: c for c in self._stored_columns(name, shape)})
            return resolve, None if cols is None else [(resolve(c), c) for c in cols]

        return self._serve_raw(plan, where, order, limit)

    def _rewrite_pred_to_stored(self, where: str, canon_ref) -> str | None:
        """Rewrite every column reference in ``where`` (qualified
        ``alias.col`` / ``tbl.col`` or bare) to its stored reflection
        column via ``canon_ref``; None when any reference cannot be proven
        covered (unknown qualifier, ambiguous bare name, subquery,
        nondeterministic function) — the caller then falls back to the
        plain plan. Single-quoted literals pass through untouched."""
        toks = self._pred_tokens(where)
        out: list[str] = []
        end = 0  # start of the text not yet copied to ``out``
        i = 0
        while i < len(toks):
            kind, name, t = toks[i]
            i += 1
            if kind != "id":
                continue
            nxt = toks[i][2] if i < len(toks) else None
            low = name.lower()
            ref, last = name, t
            if nxt is not None and nxt.text == "(":
                if low in self._PRED_NONDETERMINISTIC:
                    return None
                continue
            if nxt is not None and nxt.text == "." and nxt.pos == t.pos + len(t.text):
                # qualified ``alias.col`` / ``tbl.col``
                while (
                    i + 1 < len(toks) and toks[i][1] == "." and toks[i + 1][0] == "id"
                ):
                    ref, last = f"{ref}.{toks[i + 1][1]}", toks[i + 1][2]
                    i += 2
                if last is t:
                    return None
            elif low == "select":
                return None
            elif low in self._PRED_KEYWORDS:
                continue
            stored = canon_ref(ref)
            if stored is None:
                return None
            out.append(where[end : t.pos])
            out.append(f"`{stored}`" if t.kind == "qid" else stored)
            end = last.pos + len(last.text)
        out.append(where[end:])
        return "".join(out)

    def route_raw_join(
        self,
        tables: list[str],
        join_keys: list[str],
        select: list[tuple[str, str]],
        where: str | None = None,
        aliases: dict[str, str] | None = None,
        order: list[tuple[str, bool]] | None = None,
        limit: int | None = None,
    ) -> DataFrame | None:
        """Serve an explicitly spelled ``SELECT cols FROM a JOIN b ON …
        [WHERE] [ORDER BY] [LIMIT]`` from a FRESH RAW reflection whose join
        subtree is the query's — one declared on the equivalent projection
        join VIEW. ``select`` is [(source_ref, output_name)]; ``aliases`` is
        the query's alias→table map. Column references resolve through the
        shape's colmap (alias- and key-order-invariant via the canonical
        join identity); anything unresolvable falls back to the plain plan.
        At 100 TB this replaces the query's join shuffle with a pruned scan
        of the pre-joined reflection storage. Serving: :meth:`_serve_raw`."""
        want = [list(p) for p in self._canonical_join(tables, join_keys)]

        def plan(name, shape):
            if shape["aggs"] or shape["colmap"] is None:
                return None  # an aggregate view's stored rows are groups
            if [shape["tables"], shape["keys"]] != want:
                return None
            resolve = self._resolver(shape["colmap"], aliases)
            return resolve, [(resolve(ref), out) for ref, out in select]

        return self._serve_raw(plan, where, order, limit)

    def route_raw_agg_join(
        self,
        tables: list[str],
        join_keys: list[str],
        dims: list[tuple[str, str]],
        measures: list[tuple[str, str, str]],
        where: str | None = None,
        aliases: dict[str, str] | None = None,
        order: list[tuple[str, bool]] | None = None,
        limit: int | None = None,
    ) -> DataFrame | None:
        """Serve an explicitly spelled ``SELECT dims, AGG(col) AS out FROM
        a JOIN b ON … [WHERE dims-pred] GROUP BY dims`` from a FRESH RAW
        reflection on the equivalent AGGREGATE join view — the workshop's
        ``customer_spend_reflection USING RAW`` answering the view's own
        query written against the base tables (readme.md:307-355).
        Exact-dims matching only: the stored rows ARE the groups, so the
        query's GROUP BY set must equal the view's (no rollup algebra —
        that is the AGGREGATE reflection's job); each measure must appear
        verbatim (same AGG over the same source column). ``dims`` is
        [(src_ref, out_name)], ``measures`` [(AGG, src_ref|'*',
        out_name)]. WHERE may reference dims only (groups filter exactly).
        Serving: :meth:`_serve_raw`."""
        want = [list(p) for p in self._canonical_join(tables, join_keys)]

        def plan(name, shape):
            if not shape["aggs"] or [shape["tables"], shape["keys"]] != want:
                return None
            resolve = self._resolver(shape["colmap"], aliases)
            sel = [(resolve(ref), out) for ref, out in dims]
            if {s for s, _ in sel} != set(shape["colmap"].values()):
                return None  # stored groups only prove the EXACT dims set
            for agg, ref, out in measures:
                of_agg = {s: st for a, s, st in shape["aggs"] if a == agg.upper()}
                sel.append((self._resolver(of_agg, aliases)(ref), out))
            return resolve, sel

        return self._serve_raw(plan, where, order, limit)

    # -------------------------------------------- join-subtree reflections

    def _canonical_join(
        self, tables: list[str], join_keys: list[str]
    ) -> tuple[tuple[str, ...], tuple[str, ...]]:
        """Order-independent identity of a join subtree: table names
        resolved to full lake names where possible, sorted; equi-key pairs
        normalized as 'a.col=b.col' with each pair lexicographically
        ordered. Two spellings of the same star join compare equal."""
        resolved = sorted(self._resolve_dataset(t) or t for t in tables)
        keys = []
        for k in join_keys:
            a, _, b = k.partition("=")

            def side(x: str) -> str:
                tbl, _, col = x.strip().rpartition(".")
                return f"{self._resolve_dataset(tbl) or tbl}.{col}"

            keys.append("=".join(sorted((side(a), side(b)))))
        return tuple(resolved), tuple(sorted(keys))

    def register_join_agg_shape(
        self,
        name: str,
        tables: list[str],
        join_keys: list[str],
        dims: list[str],
        measures: list[tuple[str, str]],
        view_body: str | None = None,
        dataset: str | None = None,
    ) -> None:
        """Record that reflection ``name`` materializes ``SELECT dims,
        partials FROM <inner equi-join over tables on join_keys> GROUP BY
        dims`` — Dremio's join-reflection acceleration (readme.md:331-355;
        the workshop's ``customer_spend`` join view, readme.md:307-329).
        ``join_keys`` entries are ``'tbl1.col1=tbl2.col2'``; one table and
        no keys is a single dataset. Dims and measure columns are bare
        output-column names (star-schema queries keep them unambiguous).
        ``dataset`` names the view (or table) the reflection was declared
        on, so queries by that name route too; ``view_body`` is its body,
        checked for drift at route time.

        Storage follows the partial-column rule ``<col>_<agg>`` (+
        ``n_rows`` for COUNT(*)). Only re-aggregable partials are
        registered (SUM, COUNT, MIN, MAX, NDV; an AVG partial cannot be
        rolled up and is skipped) — this is what makes the reflection
        servable for dim-SUBSET queries, not just exact-shape matches. NDV
        partials are Apache DataSketches HLL sketches (``<col>_hll``):
        mergeable like any other partial, they make APPROX_COUNT_DISTINCT
        servable — the one distinct-count form that CAN ride a rollup."""
        t, k = self._canonical_join(tables, join_keys)
        self._agg_shapes[name] = {
            "dataset": dataset,
            "tables": list(t),
            "keys": list(k),
            "dims": list(dims),
            "measures": [
                (col, agg.upper())
                for col, agg in measures
                if agg.upper() in _PARTIALS
            ],
            "view_body": view_body,
        }
        if name in self._sql_defs:
            self._save_registry()

    def route_join_aggregate(
        self,
        tables: list[str],
        join_keys: list[str],
        dims: list[str],
        measures: list[tuple[str, str, str]],
        where: str | None = None,
    ) -> DataFrame | None:
        """Serve ``SELECT dims, aggs FROM <same inner equi-join> [WHERE
        pred] GROUP BY dims`` from a FRESH aggregate reflection whose join
        subtree is identical (canonicalized: table order, key order and
        aliases do not matter) — the join half of Dremio's covered-query
        substitution. ``where`` must reference only the reflection's
        (bare-named) dimension columns. The join itself was paid ONCE at
        materialization. Conditions and serving: :meth:`_route_rollup`."""
        want = self._canonical_join(tables, join_keys)
        return self._route_rollup(
            lambda shape: (tuple(shape["tables"]), tuple(shape["keys"])) == want,
            dims, measures, where,
        )

    def drop_reflection(self, name: str) -> None:
        """Reflection retirement (readme.md:381-389 autonomous retire)."""
        self._defs.pop(name, None)
        self._anchors.pop(name, None)
        self._epochs.pop(name, None)
        self._agg_shapes.pop(name, None)
        self._raw_shapes.pop(name, None)
        was_sql = self._sql_defs.pop(name, None) is not None
        self.lake.drop_table(self._storage_name(name))
        if was_sql:
            self._save_registry()

    def status(self) -> list[dict]:
        return [
            {
                "name": name,
                "anchors": anchor_tables,
                "fresh": self.is_fresh(name),
                "storage": self._storage_name(name),
            }
            for name, (_, anchor_tables) in self._defs.items()
        ]

    # ------------------------------------------------------ result cache

    def cached_sql(self, sql: str, anchor_tables: list[str]) -> DataFrame:
        """R10 result cache: ``hash(SQL, anchor snapshot ids)`` → materialized
        result table (readme.md:405-411 'result cache'; SURVEY §4 R10).

        Falls out of the reflection machinery: the cache entry is a
        reflection whose name is the SQL digest — fresh while every anchor
        table is at the snapshot recorded at materialization, recomputed (and
        re-cached) the first time it is requested after any anchor advances.
        The reference's probe discipline (dremio.sql:10-13 picks *different*
        columns to bypass the result cache) maps directly: different SQL →
        different digest → miss.
        """
        import hashlib

        digest = hashlib.md5(sql.encode()).hexdigest()[:16]
        name = f"rc_{digest}"
        if name not in self._defs:
            # SQL-defined => persisted; cache hits survive process restarts
            self.create_reflection(name, sql, anchor_tables)
        elif not self.is_fresh(name):
            self.refresh(name)
        return self.resolve(name)
