"""Verbatim reference-script execution: DDL/DML routed to the lakehouse.

The reference's industry examples are self-contained SQL scripts that
create namespaces and tables, load sample rows, and stack views
(``/root/reference/industry-examples/finance_example.sql:4-109``,
``retail.sql:88-100`` DROP+CTAS, ``logistics_AI.sql:60`` DELETE FROM).
``dialect.run`` handles the query dialect; this module adds the statement
router so those scripts execute end-to-end against a :class:`Lakehouse`:

- ``CREATE FOLDER/NAMESPACE [IF NOT EXISTS] ns`` -> ``create_namespace``
- ``CREATE TABLE [IF NOT EXISTS] t (cols) [PARTITION BY (...)]`` ->
  ``create_table`` (``DAY(ts)`` et al. become hidden-partition transforms)
- ``CREATE TABLE t [PARTITION BY (...)] [DISTRIBUTE BY (...)] AS SELECT``
  -> ``create_table_as``
- ``INSERT INTO t [(cols)] VALUES ... | SELECT ...`` -> ``append``
- ``DELETE FROM t [WHERE cond]`` -> ``delete_where`` (CoW snapshot, or
  merge-on-read position deletes when ``write.delete.mode`` says so)
- ``MERGE INTO t USING s ON ... WHEN ...`` -> ``merge_into``, the one MERGE
  body: it picks the plan (the plain upsert is one) and honours
  ``write.merge.mode`` for every clause family
- ``DROP TABLE [IF EXISTS] t`` -> ``drop_table``
- ``CREATE [OR REPLACE] VIEW v AS body`` -> tracked logical view
- anything else -> dialect-translated ``spark.sql``

Multi-part names (``dremio.finance.raw.trades``) are resolved by
registering each lake table as a temp view named with ``__`` separators and
rewriting references in query text (code regions only — string literals
are never touched). Every statement re-points those views at the tables'
current snapshots, so a query always sees the latest commit. Building a
table's frames is not metadata-cheap: scan planning, the declared-schema
projection and three driver-built metadata views came to ~1 s per
statement over six tables (three tables plus three reflections, 4 cores).
So the runner builds them once per table and reuses them until the
table's ``metadata.json`` changes, builds a metadata view only for a
statement that names it, and re-registers a temp view only when what it
serves moved (see ``ScriptRunner._refresh``). The reused frames are lazy
plans, never results: every action scans the files of the snapshot the
view was built over.
"""

from __future__ import annotations

import functools
import hashlib
import re
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import dialect
from ..session import local_frame
from .accelerator import parse_join_view, partial_items, partials_needed

# ------------------------------------------------------------ statement REs

_RE_FOLDER = re.compile(
    r"^CREATE\s+(?:FOLDER|NAMESPACE)\s+(?:IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*$", re.I
)
_RE_CREATE_TABLE = re.compile(
    r"^CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([\w.]+)\s*(.*)$", re.I | re.S
)
_RE_INSERT = re.compile(
    r"^INSERT\s+INTO\s+([\w.]+)\s*(?:\(([^)]*)\))?\s*(VALUES\b.*|SELECT\b.*)$",
    re.I | re.S,
)
_RE_DELETE = re.compile(
    r"^DELETE\s+FROM\s+([\w.]+)(?:\s+WHERE\s+(.*))?\s*$", re.I | re.S
)
_RE_UPDATE = re.compile(r"^UPDATE\s+([\w.]+)\s+SET\s+(.*)$", re.I | re.S)
_RE_MERGE = re.compile(
    r"^MERGE\s+INTO\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+"
    r"USING\s+([\w.]+)(?:\s+(?:AS\s+)?(\w+))?\s+ON\s+(.*\bWHEN\b.*)$",
    re.I | re.S,
)
_RE_WHEN_MATCHED = re.compile(
    r"^MATCHED\s*(?:AND\s+(.*?)\s+)?THEN\s+(UPDATE\s+SET\s+(.*)|DELETE)\s*$",
    re.I | re.S,
)
_RE_WHEN_NOT_MATCHED = re.compile(
    r"^NOT\s+MATCHED\s*(?:AND\s+(.*?)\s+)?THEN\s+INSERT\s+(.*)$",
    re.I | re.S,
)
# SQL:2023 / Iceberg third clause family: target rows absent from the source
_RE_WHEN_NOT_MATCHED_BY_SOURCE = re.compile(
    r"^NOT\s+MATCHED\s+BY\s+SOURCE\s*(?:AND\s+(.*?)\s+)?THEN\s+"
    r"(UPDATE\s+SET\s+(.*)|DELETE)\s*$",
    re.I | re.S,
)
_RE_INSERT_COLS_VALUES = re.compile(
    r"^\((.*?)\)\s*VALUES\s*\((.*)\)\s*$", re.I | re.S
)
# Persisted index DDL (round 9): CREATE ANN|TEXT INDEX idx ON t (col)
# [KEY (id_col)] [OPTIONS (dim 64, m_sub 4, ...)] -> operators.ann_index /
# operators.text_index build; REFRESH INDEX idx -> O(delta) refresh;
# DROP INDEX idx. Query spellings are the TVFs below.
_RE_CREATE_INDEX = re.compile(
    r"^CREATE\s+(ANN|TEXT)\s+INDEX\s+([\w.]+)\s+ON\s+([\w.]+)\s*"
    r"\(\s*(\w+)\s*\)"
    r"(?:\s+KEY\s*\(\s*(\w+)\s*\))?"
    r"(?:\s+OPTIONS\s*\((.*?)\))?\s*$",
    re.I | re.S,
)
_RE_REFRESH_INDEX = re.compile(r"^REFRESH\s+INDEX\s+([\w.]+)\s*$", re.I)
_RE_DROP_INDEX = re.compile(r"^DROP\s+INDEX\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$", re.I)
# TABLE(ann_search('idx', 'queries_table', k[, nprobe])) /
# TABLE(bm25_search('idx', 'term1 term2', n)) — TVF query spellings over
# the persisted indexes (JIT-registered as temp views, same pattern as
# table_changes)
_RE_ANN_TVF = re.compile(
    r"TABLE\s*\(\s*ann_search\s*\(\s*'([\w.]+)'\s*,\s*'([\w.]+)'\s*,\s*"
    r"(\d+)(?:\s*,\s*(\d+))?\s*\)\s*\)",
    re.I,
)
_RE_BM25_TVF = re.compile(
    r"TABLE\s*\(\s*bm25_search\s*\(\s*'([\w.]+)'\s*,\s*'([^']+)'\s*,\s*"
    r"(\d+)\s*\)\s*\)",
    re.I,
)
# TABLE(ann_rerank('idx', 'queries', k[, recall_m[, nprobe]])) — two-stage
# serving from the persisted index (FAISS IndexRefineFlat): compressed-
# domain recall of recall_m candidates, exact-cosine re-rank to top-k
# against the source's raw vectors at the indexed snapshot
_RE_RERANK_TVF = re.compile(
    r"TABLE\s*\(\s*ann_rerank\s*\(\s*'([\w.]+)'\s*,\s*'([\w.]+)'\s*,\s*"
    r"(\d+)(?:\s*,\s*(\d+))?(?:\s*,\s*(\d+))?\s*\)\s*\)",
    re.I,
)
# TABLE(hybrid_search('ann_idx', 'text_idx', 'queries', 'terms', n[, depth]))
# — RRF-fused hybrid retrieval served END-TO-END from the two persisted
# indexes (the s14 shape): corpus text/vectors never touched at query time
_RE_HYBRID_TVF = re.compile(
    r"TABLE\s*\(\s*hybrid_search\s*\(\s*'([\w.]+)'\s*,\s*'([\w.]+)'\s*,\s*"
    r"'([\w.]+)'\s*,\s*'([^']+)'\s*,\s*(\d+)(?:\s*,\s*(\d+))?\s*\)\s*\)",
    re.I,
)

# APPLY CHANGES INTO t FROM <changelog query> KEYS (k1[, ...]) — the
# statement spelling of LakeTable.apply_changes (the Delta Live Tables
# APPLY CHANGES INTO shape): the source is any query producing
# _change_type rows, typically TABLE(table_changes('src', from[, to]))
_RE_APPLY_CHANGES = re.compile(
    r"^APPLY\s+CHANGES\s+INTO\s+([\w.]+)\s+FROM\s+(.+?)\s+KEYS\s*\(([^)]*)\)\s*$",
    re.I | re.S,
)
_RE_DROP = re.compile(r"^DROP\s+TABLE\s+(IF\s+EXISTS\s+)?([\w.]+)\s*$", re.I)
_RE_OPTIMIZE = re.compile(r"^OPTIMIZE\s+TABLE\s+([\w.]+)\s*$", re.I)
# OPTIMIZE TABLE t REWRITE DELETES — consolidate merge-on-read delete
# files (position + equality) into one position-delete dir without
# rewriting data: the statement form of fold_deletes() (Iceberg's
# rewrite_position_delete_files maintenance action)
_RE_OPTIMIZE_DELETES = re.compile(
    r"^OPTIMIZE\s+TABLE\s+([\w.]+)\s+REWRITE\s+DELETES\s*$", re.I
)
# Dremio's full OPTIMIZE surface: partition-scoped rewrite, target file
# size, sort / Z-order clustering (readme.md:391-401 "partition
# optimization"); REWRITE MANIFESTS stays unsupported (no manifest files
# in the shim to rewrite)
_RE_OPTIMIZE_EXT = re.compile(
    r"^OPTIMIZE\s+TABLE\s+([\w.]+)"
    r"(?:\s+REWRITE\s+DATA)?"
    r"(?:\s+FOR\s+PARTITIONS\s+(?P<part>.+?))?"
    r"(?:\s+\(\s*TARGET_FILE_SIZE_MB\s*=\s*(?P<mb>\d+)\s*\))?"
    r"(?:\s+(?P<kind>SORT|CLUSTER)\s+BY\s*\((?P<cols>[^)]*)\))?\s*$",
    re.I | re.S,
)
_RE_ADD_PART_FIELD = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+PARTITION\s+FIELD\s+(.+?)\s*$", re.I
)
_RE_DROP_PART_FIELD = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+PARTITION\s+FIELD\s+(.+?)\s*$", re.I
)
# VACUUM TABLE t EXPIRE SNAPSHOTS [RETAIN_LAST n] — Dremio/Iceberg snapshot
# expiry as a statement (readme.md:391-401 metadata pruning)
_RE_VACUUM = re.compile(
    r"^VACUUM\s+TABLE\s+([\w.]+)\s+EXPIRE\s+SNAPSHOTS"
    r"(?:\s+OLDER_THAN\s*=?\s*'([^']+)')?"
    r"(?:\s+RETAIN_LAST\s*=?\s*(\d+))?\s*$",
    re.I,
)
_RE_ADD_COL = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+ADD\s+COLUMNS?\s*\(?\s*\"?(\w+)\"?\s+([\w(),]+)\s*\)?\s*$",
    re.I,
)
_RE_RENAME_COL = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+RENAME\s+COLUMN\s+\"?(\w+)\"?\s+TO\s+\"?(\w+)\"?\s*$",
    re.I,
)
_RE_DROP_COL = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+COLUMN\s+\"?(\w+)\"?\s*$", re.I
)
_RE_SET_PROPS = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+SET\s+TBLPROPERTIES\s*\((.+)\)\s*$", re.I | re.S
)
_RE_UNSET_PROPS = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+UNSET\s+TBLPROPERTIES\s*\((.+)\)\s*$", re.I | re.S
)
_RE_SHOW_PROPS = re.compile(r"^SHOW\s+TBLPROPERTIES\s+([\w.]+)\s*$", re.I)
_RE_ROLLBACK = re.compile(
    r"^ROLLBACK\s+TABLE\s+([\w.]+)\s+TO\s+(SNAPSHOT|TIMESTAMP)\s+'([^']+)'\s*$",
    re.I,
)
_RE_SHOW_TABLES = re.compile(r"^SHOW\s+TABLES(?:\s+IN\s+([\w.]+))?\s*$", re.I)
_RE_DESCRIBE = re.compile(r"^DESC(?:RIBE)?\s+(?:TABLE\s+)?([\w.]+)\s*$", re.I)
_RE_EXPLAIN = re.compile(r"^EXPLAIN\s+(?:PLAN\s+FOR\s+)?(.+)$", re.I | re.S)
_RE_SHOW_FOLDERS = re.compile(
    r"^SHOW\s+(?:FOLDERS|SCHEMAS)(?:\s+IN\s+([\w.]+))?\s*$", re.I
)
_PROP_PAIR_RE = re.compile(r"'([^']*)'\s*=\s*'([^']*)'")
_PROP_KEY_RE = re.compile(r"'([^']*)'")
# Iceberg type promotion: ALTER TABLE t ALTER|MODIFY COLUMN c [SET DATA] TYPE bigint
_RE_WIDEN_COL = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+(?:ALTER|MODIFY)\s+COLUMN\s+\"?(\w+)\"?"
    r"\s+(?:SET\s+DATA\s+)?TYPE\s+([\w(),]+)\s*$",
    re.I,
)
# Iceberg named references: ALTER TABLE t CREATE TAG name [AS OF SNAPSHOT 'id']
_RE_CREATE_TAG = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+CREATE\s+TAG\s+\"?([\w-]+)\"?"
    r"(?:\s+AS\s+OF\s+SNAPSHOT\s+'(\d+)')?\s*$",
    re.I,
)
_RE_DROP_TAG = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+TAG\s+\"?([\w-]+)\"?\s*$", re.I
)
_RE_CREATE_BRANCH = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+CREATE\s+BRANCH\s+\"?([\w-]+)\"?"
    r"(?:\s+AS\s+OF\s+SNAPSHOT\s+'(\d+)')?\s*$",
    re.I,
)
_RE_DROP_BRANCH = re.compile(
    r"^ALTER\s+TABLE\s+([\w.]+)\s+DROP\s+BRANCH\s+\"?([\w-]+)\"?\s*$", re.I
)
_RE_GRANT = re.compile(
    r"^GRANT\s+(.*?)\s+ON\s+(PROJECT|FOLDER|TABLE|VIEW)\s*"
    r"(\"[^\"]+\"|[\w.]+)?\s+TO\s+(USER|ROLE)\s+(\"[^\"]+\"|[\w.@-]+)\s*$",
    re.I | re.S,
)
# TABLE(table_changes('t', from[, to])) — the changelog TVF (Delta
# table_changes / Iceberg changelog view): rows with _change_type between
# two snapshot ids OR TIMESTAMP '…' bounds (resolved to the snapshot
# current at that instant via snapshot history); NULL/omitted 'to' means
# current
_RE_CHANGES_TVF = re.compile(
    r"TABLE\s*\(\s*table_changes\s*\(\s*'([\w.]+)'\s*,\s*"
    r"(NULL|\d+|TIMESTAMP\s*'[^']+')"
    r"(?:\s*,\s*(NULL|\d+|TIMESTAMP\s*'[^']+'))?\s*\)\s*\)",
    re.I,
)
_RE_REVOKE = re.compile(
    r"^REVOKE\s+(.*?)\s+ON\s+(PROJECT|FOLDER|TABLE|VIEW)\s*"
    r"(\"[^\"]+\"|[\w.]+)?\s+FROM\s+(USER|ROLE)\s+(\"[^\"]+\"|[\w.@-]+)\s*$",
    re.I | re.S,
)
_RE_COPY_INTO = re.compile(
    r"^COPY\s+INTO\s+([\w.]+)\s+FROM\s+'([^']+)'"
    r"(?:\s+REGEX\s+'([^']*)')?"
    r"(?:\s+FILE_FORMAT\s+'(\w+)')?"
    r"(?:\s*\((.*)\))?\s*$",
    re.I | re.S,
)
_RE_COPY_OPT = re.compile(r"(\w+)\s+(?:'((?:[^']|'')*)'|([^\s,]+))")
_RE_CREATE_REFLECTION = re.compile(
    r"^ALTER\s+DATASET\s+([\w.]+)\s+CREATE\s+(?:(?:RAW|AGGREGATE)\s+)?"
    r"REFLECTION\s+(\w+)\s+USING\s+(.*)$",
    re.I | re.S,
)
_RE_DROP_REFLECTION = re.compile(
    r"^ALTER\s+DATASET\s+[\w.]+\s+DROP\s+REFLECTION\s+(\w+)\s*$", re.I
)
_RE_USING_DISPLAY = re.compile(r"^DISPLAY\s*\(", re.I)
_RE_USING_DIMENSIONS = re.compile(r"^DIMENSIONS\s*\(", re.I)
_RE_MEASURES = re.compile(r"\bMEASURES\s*\(", re.I)
_RE_MEASURE_ITEM = re.compile(r"(\w+)\s*(?:\(([^)]*)\))?")
_RE_VIEW = re.compile(
    r"^CREATE\s+(?:OR\s+REPLACE\s+)?VIEW\s+([\w.]+)\s+AS\s+(.*)$", re.I | re.S
)
_RE_PARTITION = re.compile(r"\bPARTITION\s+BY\s*\(", re.I)
_RE_DISTRIBUTE = re.compile(r"\bDISTRIBUTE\s+BY\s*\(", re.I)
_RE_LOCALSORT = re.compile(r"\bLOCALSORT\s+BY\s*\(", re.I)
# per-table metadata views, ``<leaf>__<kind>``: LakeTable method names
_META_KINDS = ("snapshots", "history", "refs", "files", "partitions", "delete_files")
_RE_META_VIEW = re.compile(
    r"\b(\w+?)__(snapshots|history|refs|delete_files|files|partitions)\b"
)


def _clause(pattern: re.Pattern, text: str) -> str | None:
    """Balanced-paren clause body, e.g. PARTITION BY (DAY(ts)) -> 'DAY(ts)'."""
    m = pattern.search(text)
    if not m:
        return None
    start = m.end() - 1
    return text[start + 1 : dialect.matching_close(text, start)]

# Dremio partition transforms -> lakeshim transform spec
_TRANSFORM_MAP = {"day": "days", "month": "months", "year": "years", "hour": "hours"}
_RE_TRANSFORM = re.compile(r"^(\w+)\s*\(\s*(\w+)\s*\)$")

# Dremio/SQL type spellings Spark's DDL parser does not take verbatim
_TYPE_MAP = [
    (re.compile(r"\bVARCHAR\b(\s*\(\s*\d+\s*\))?", re.I), "STRING"),
    (re.compile(r"\bINTEGER\b", re.I), "INT"),
]


def _ddl_type(dtype: str) -> str:
    """``dtype`` with ``_TYPE_MAP`` applied outside its string literals (a
    column COMMENT keeps its text)."""

    def fix(code: str) -> str:
        for pat, repl in _TYPE_MAP:
            code = pat.sub(repl, code)
        return code

    return dialect.map_code_regions(dtype, fix)


def _partition_specs(clause: str) -> list[str]:
    specs = []
    for item in dialect.split_top(clause, ","):
        m = _RE_TRANSFORM.match(item.strip())
        if m and m.group(1).lower() in _TRANSFORM_MAP:
            specs.append(f"{_TRANSFORM_MAP[m.group(1).lower()]}({m.group(2)})")
        else:
            specs.append(item.strip())
    return specs


def _schema_from_coldefs(coldefs: str) -> T.StructType:
    cols = []
    for item in dialect.split_top(coldefs, ","):
        name, _, dtype = item.strip().partition(" ")
        dtype = _ddl_type(dtype.strip())
        # Dremio quotes reserved column names with double quotes
        # (manufacturing.sql:42 '"value" DECIMAL(10,3)') -> backticks
        cols.append(f"`{name.strip(chr(34))}` {dtype}")
    return T.StructType.fromDDL(", ".join(cols))


class UnsupportedStatementError(ValueError):
    """A statement the router recognizes by its leading keyword but cannot
    execute in any supported form. Raised instead of letting lake DML fall
    through to ``spark.sql``, where it would fail with a Spark parse error
    that never mentions the dialect's actual contract."""

    def __init__(self, kind: str, statement: str, supported: str):
        self.kind = kind
        self.statement = statement
        super().__init__(
            f"unsupported {kind} statement: {statement[:120]!r}\n"
            f"supported forms: {supported}"
        )


# Leading keywords that are lake DDL/DML — if none of their routes matched,
# the statement is malformed-for-this-dialect, not a query to hand Spark.
_DML_SUPPORTED_FORMS = {
    "MERGE": (
        "MERGE INTO t [AS a] USING s [AS b] ON a.k = b.k [AND ...] "
        "{WHEN MATCHED [AND cond] THEN UPDATE SET * | col = expr, ... "
        "| WHEN MATCHED [AND cond] THEN DELETE "
        "| WHEN NOT MATCHED [AND cond] THEN INSERT * | (cols) VALUES (exprs) "
        "| WHEN NOT MATCHED BY SOURCE [AND cond] THEN "
        "UPDATE SET col = expr, ... | DELETE}..."
    ),
    "INSERT": "INSERT INTO t [(cols)] VALUES ... | SELECT ...",
    "UPDATE": "UPDATE t SET col = expr[, ...] [WHERE cond]",
    "DELETE": "DELETE FROM t [WHERE cond]",
    "COPY": "COPY INTO t FROM 'path' [REGEX '...'] [FILE_FORMAT 'fmt'] [(opts)]",
    "APPLY": (
        "APPLY CHANGES INTO t FROM <changelog query producing _change_type "
        "rows, e.g. TABLE(table_changes('src', from[, to]))> KEYS (k1[, ...])"
    ),
    "GRANT": "GRANT p1[, p2] ON PROJECT|FOLDER|TABLE|VIEW obj TO USER|ROLE who",
    "REVOKE": "REVOKE p1[, p2] ON PROJECT|FOLDER|TABLE|VIEW obj FROM USER|ROLE who",
    "OPTIMIZE": (
        "OPTIMIZE TABLE t [REWRITE DATA] [FOR PARTITIONS cond] "
        "[(TARGET_FILE_SIZE_MB = n)] [SORT|CLUSTER BY (cols)] "
        "| OPTIMIZE TABLE t REWRITE DELETES"
    ),
    "VACUUM": (
        "VACUUM TABLE t EXPIRE SNAPSHOTS [OLDER_THAN 'ts'] [RETAIN_LAST n]"
    ),
    "ROLLBACK": "ROLLBACK TABLE t TO SNAPSHOT 'id' | TO TIMESTAMP 'ts'",
    "SHOW": (
        "SHOW TABLES [IN ns] | SHOW FOLDERS|SCHEMAS [IN ns] "
        "| SHOW TBLPROPERTIES t | SHOW INDEXES | SHOW RECOMMENDATIONS"
    ),
    "CREATE": (
        "CREATE FOLDER|NAMESPACE ns | CREATE TABLE t (cols) [PARTITION BY (...)] "
        "| CREATE TABLE t [PARTITION BY (...)] [DISTRIBUTE BY (...)] AS SELECT "
        "| CREATE [OR REPLACE] VIEW v AS ... "
        "| CREATE ANN|TEXT INDEX idx ON t (col) [KEY (id)] [OPTIONS (...)]"
    ),
    "DROP": "DROP TABLE [IF EXISTS] t | DROP INDEX [IF EXISTS] idx",
    "REFRESH": "REFRESH INDEX idx",
    "ALTER": (
        "ALTER TABLE t ADD COLUMN name type | ALTER TABLE t RENAME COLUMN a TO b "
        "| ALTER TABLE t DROP COLUMN name "
        "| ALTER TABLE t ALTER COLUMN name TYPE widertype "
        "| ALTER TABLE t SET/UNSET TBLPROPERTIES ('k' [= 'v'], ...) "
        "| ALTER TABLE t CREATE TAG name [AS OF SNAPSHOT 'id'] "
        "| ALTER TABLE t DROP TAG name "
        "| ALTER TABLE t CREATE BRANCH name [AS OF SNAPSHOT 'id'] "
        "| ALTER TABLE t DROP BRANCH name "
        "| ALTER DATASET d CREATE [RAW|AGGREGATE] REFLECTION r USING ... "
        "| ALTER DATASET d DROP REFLECTION r"
    ),
}


class ScriptRunner:
    """Executes Dremio-dialect scripts (DDL+DML+queries) on a Lakehouse."""

    def __init__(self, lake, source_roots: dict[str, str] | None = None):
        self.lake = lake
        self.spark = lake.spark
        # view full-name -> translated body SQL, in creation order (views
        # may only reference tables and earlier views, like the reference's
        # silver -> gold stacking)
        self.views: dict[str, str] = {}
        # Dremio external-source handles: '@name/rest' in COPY INTO /
        # LIST_FILES paths resolves to source_roots['name'] + '/rest'
        # (example.sql:14 '@s3/...'). Unmapped handles raise.
        self.source_roots = dict(source_roots or {})
        # table full name -> (metadata.json digest, its read(), metadata
        # kind -> frame built so far); see _refresh
        self._frames: dict[str, tuple[bytes, DataFrame, dict[str, DataFrame]]] = {}
        # temp view name -> (key of what it serves, the session's relation
        # registered for it); see _point
        self._pointed: dict[str, tuple] = {}
        # leaf name -> the readable table its leaf view serves
        self._leaves: dict[str, str] = {}
        self._denied: set[str] = set()
        self._refreshing = False

    def _resolve_path(self, path: str) -> str:
        if not path.startswith("@"):
            return path
        handle, _, rest = path[1:].partition("/")
        if handle not in self.source_roots:
            raise ValueError(
                f"unmapped external source '@{handle}' — pass source_roots="
                f"{{'{handle}': '/local/dir'}} to run_script/ScriptRunner"
            )
        import os

        return os.path.join(self.source_roots[handle], rest)

    # ------------------------------------------------------------ naming

    @staticmethod
    def _vname(full: str) -> str:
        return full.replace(".", "__")

    def _known_names(self) -> list[str]:
        names = set(self.lake._walk_tables()) | set(self.views)
        # longest-first so a.b.c rewrites before a.b
        return sorted(names, key=len, reverse=True)

    def _rewrite_names(self, sql: str) -> str:
        names = self._known_names()

        def rewrite(code: str) -> str:
            for full in names:
                if "." not in full:
                    continue  # leaf names resolve as real temp views
                pat = r"(?<![\w.`])" + re.escape(full) + r"(?![\w.])"
                code = re.sub(pat, self._vname(full), code)
            return code

        return dialect.map_code_regions(sql, rewrite)

    @staticmethod
    def _meta_digest(t) -> bytes:
        """Identity of a table's committed state: a digest of its
        ``metadata.json`` bytes. Every commit, schema or partition-spec
        change, rename, tombstone and ref update writes a new file and
        swaps it in with ``os.replace``, so equal digests mean equal
        reads."""
        with open(t._meta_path, "rb") as f:
            return hashlib.sha256(f.read()).digest()

    def _table_views(self, full: str) -> tuple[str, ...]:
        leaf = full.split(".")[-1]
        return (self._vname(full), leaf) + tuple(
            f"{leaf}__{kind}" for kind in _META_KINDS
        )

    @functools.cached_property
    def _catalog(self):
        return self.spark._jsparkSession.sessionState().catalog()

    def _point(self, name: str, key, target: DataFrame | str) -> None:
        """Make temp view ``name`` serve ``target`` — a frame, or the
        ``CREATE TEMP VIEW`` statement that defines it — unless it already
        does. ``key`` names what ``target`` is (None: always re-register).

        The view is left alone when this runner last registered it for an
        equal key and the session still holds the relation it registered
        then: one catalog lookup instead of re-analysing the view's plan.
        The lookup also catches a view that another runner or user code
        replaced or dropped since."""
        kept = self._pointed.get(name)
        if (
            key is not None
            and kept is not None
            and kept[0] == key
            and self._catalog.getRawTempView(name).equals(kept[1])
        ):
            return
        if isinstance(target, str):
            self.spark.sql(target)
        else:
            target.createOrReplaceTempView(name)
        self._pointed[name] = (key, self._catalog.getRawTempView(name))

    def _drop_views(self, names) -> None:
        for v in names:
            self._pointed.pop(v, None)
            self.spark.catalog.dropTempView(v)

    def _refresh(self, sql: str = "") -> None:
        """Point every table, the stacked views, the reflections and the
        metadata views ``sql`` needs at their current state, before each
        statement.

        A table's frames (its ``read()`` and the metadata views built so
        far) are kept in ``self._frames`` under the digest of the table's
        ``metadata.json`` (:meth:`_meta_digest`); a statement rebuilds only
        the tables whose digest moved and forgets dropped ones, because
        building is not metadata-cheap: each read plans its scan and
        projection and each metadata view builds a local relation. The
        kept frames are lazy plans, so every action still scans the
        snapshot's files. A metadata view is built only for a statement or
        stacked view that names it (:meth:`_register_meta_views`).

        The SELECT grant is re-checked on every statement, memo or not:
        GRANT and REVOKE write the grants registry, not table metadata.
        Under ``enforce_grants`` a table the user may not SELECT is
        skipped (recorded in ``self._denied``) instead of failing the
        whole refresh — one unreadable table must not break scripts over
        readable ones; ``_query`` raises PermissionError only when the SQL
        actually names a denied table. Engine-internal reflection storage
        (``_reflections.*``) is never user-gated: it materializes data the
        user was already authorized to read on the anchored dataset.

        A temp view is re-registered only when what it should serve moved,
        or when the session no longer holds what this runner registered
        (:meth:`_point`): runners over different lakes share one Spark
        session's view namespace. A stacked view is re-created when its
        body or any table's digest changed; between re-creations Spark
        resolves the views it names at query time. A fresh reflection
        serves its storage table's kept read; a stale one recomputes from
        its definition (``accelerator.resolve``), whose prepare hook lands
        back here and returns at once — the views it needs are registered
        by then."""
        if self._refreshing:
            return
        self._refreshing = True
        try:
            self._register_tables()
            self._register_meta_views([sql, *self.views.values()])
            digests = tuple((full, kept[0]) for full, kept in self._frames.items())
            for vfull, body in self.views.items():
                vname = self._vname(vfull)
                create = (f"CREATE OR REPLACE TEMP VIEW {vname} AS "
                          + self._rewrite_names(body))
                self._point(vname, (create, digests), create)
                leaf = vfull.split(".")[-1]
                self._point(
                    leaf, (create, digests),
                    f"CREATE OR REPLACE TEMP VIEW {leaf} AS SELECT * FROM {vname}",
                )
            # reflections are queryable by name: materialized scan when
            # fresh, transparent recompute when stale (accelerator.resolve
            # contract)
            if hasattr(self, "_accelerator"):
                acc = self._accelerator
                for entry in acc.status():
                    kept = self._frames.get(entry["storage"])
                    if entry["fresh"] and kept is not None:
                        self._point(entry["name"], (entry["storage"], kept[0]), kept[1])
                    else:
                        self._point(entry["name"], None, acc.resolve(entry["name"]))
        finally:
            self._refreshing = False

    def _register_tables(self) -> None:
        self._denied = set()
        tables = self.lake._walk_tables()
        for gone in set(self._frames) - set(tables):
            # dropped since the last statement: its views must not keep
            # serving the deleted files
            del self._frames[gone]
            self._drop_views(self._table_views(gone))
        self._leaves = {}
        for full in tables:
            t = self.lake.table(full)
            views = self._table_views(full)
            if full.split(".", 1)[0] == "_reflections":
                t._acl = None
            elif t._acl is not None:
                try:
                    t._acl(("SELECT",), full)
                except PermissionError:
                    self._denied.update((full, views[1]))
                    # drop any view another (authorized) runner registered
                    # in this shared Spark session — a denied user must not
                    # read through a stale temp view
                    self._drop_views(views)
                    continue
            digest = self._meta_digest(t)
            kept = self._frames.get(full)
            if kept is None or kept[0] != digest:
                t._acl = None  # checked above
                kept = (digest, t.read(), {})
                self._frames[full] = kept
            self._leaves[views[1]] = full
            for v in views[:2]:
                self._point(v, (full, digest), kept[1])

    def _register_meta_views(self, texts: list[str]) -> None:
        """Register the ``<leaf>__snapshots`` / ``__history`` / ``__refs``
        / ``__files`` / ``__partitions`` / ``__delete_files`` views that
        ``texts`` (the statement and the stacked view bodies) name, either
        directly or through a ``TABLE(table_<kind>('t'))`` call. Each is
        built once per table digest and kept with the table's frames; a
        leaf resolves to the table its leaf view serves."""
        wanted = {
            hit
            for text in texts
            for hit in _RE_META_VIEW.findall(dialect._rewrite_meta_tvfs(text))
        }
        for leaf, kind in sorted(wanted):
            full = self._leaves.get(leaf)
            if full is None:
                continue  # unknown or denied: let resolution fail naturally
            digest, _, metas = self._frames[full]
            if kind not in metas:
                t = self.lake.table(full)
                t._acl = None  # SELECT checked by _register_tables
                metas[kind] = getattr(t, kind)()
            self._point(f"{leaf}__{kind}", (full, digest, kind), metas[kind])

    # ------------------------------------------------------------ handlers

    _RE_ASOF = re.compile(
        r"^\s*SELECT\s+(?P<sel>.*?)\s+FROM\s+"
        r"(?P<lt>[\w.]+)(?:\s+(?:AS\s+)?(?P<la>\w+))?\s+"
        r"ASOF\s+(?:(?P<left>LEFT)\s+)?JOIN\s+"
        r"(?P<rt>[\w.]+)(?:\s+(?:AS\s+)?(?P<ra>\w+))?\s+"
        r"ON\s+(?P<on>.*?)"
        r"(?P<rest>\s+(?:WHERE|GROUP\s+BY|ORDER\s+BY|LIMIT|HAVING|QUALIFY)\b.*)?"
        r"\s*;?\s*$",
        re.I | re.S,
    )
    _RE_ASOF_CONJ = re.compile(
        r"^\(?\s*(\w+)\.(\w+)\s*(>=|<=|=)\s*(\w+)\.(\w+)\s*\)?$"
    )
    # tolerance conjunct: a.ts - b.ts <= INTERVAL '5' MINUTE (DuckDB-style
    # bound on the as-of match distance)
    _RE_ASOF_TOL = re.compile(
        r"^\(?\s*(\w+)\.(\w+)\s*-\s*(\w+)\.(\w+)\s*(<=|<)\s*"
        r"INTERVAL\s+'([^']+)'\s*(\w+)?\s*\)?$",
        re.I,
    )

    def _asof_query(self, sql: str) -> DataFrame:
        """DuckDB-style ``FROM l ASOF [LEFT] JOIN r ON l.k = r.k AND
        l.ts >= r.ts`` — SQL surface over :func:`operators.asof.asof_join`
        (the engine's merge-scan as-of operator; one shuffle, no candidate
        explosion). ``>=`` matches the greatest right ts not exceeding the
        left ts (backward); ``<=`` the mirror (forward). Plain ASOF JOIN
        drops unmatched left rows (DuckDB inner semantics); ASOF LEFT JOIN
        keeps them with NULL payload. An extra conjunct ``l.ts - r.ts <=
        INTERVAL '5' MINUTE`` (difference on the match direction's later
        side) bounds the match distance — the operator's ``tolerance``."""
        from ..operators.asof import asof_join

        m = self._RE_ASOF.match(sql)
        if m is None:
            raise UnsupportedStatementError(
                "ASOF",
                sql,
                "SELECT ... FROM l [AS a] ASOF [LEFT] JOIN r [AS b] "
                "ON a.k = b.k [AND ...] AND a.ts >= b.ts [WHERE ...]",
            )
        la = m.group("la") or m.group("lt").split(".")[-1]
        ra = m.group("ra") or m.group("rt").split(".")[-1]
        left = self._query(f"SELECT * FROM {m.group('lt')}")
        right = self._query(f"SELECT * FROM {m.group('rt')}")

        keys: list[tuple[str, str]] = []
        ts_pair: tuple[str, str, str] | None = None  # (l_ts, r_ts, direction)
        # (minuend_alias, minuend_col, subtrahend_alias, subtrahend_col,
        #  interval literal text)
        tol: tuple[str, str, str, str, str] | None = None
        # a parenthesised AND group splits into its conjuncts too
        conjs = [
            c
            for part in dialect.split_top(m.group("on"), "AND")
            for c in dialect.split_top(dialect.strip_parens(part), "AND")
        ]
        for conj in conjs:
            tm = self._RE_ASOF_TOL.match(conj.strip())
            if tm:
                if tol is not None:
                    raise UnsupportedStatementError(
                        "ASOF", sql, "at most one tolerance conjunct in ON"
                    )
                if tm.group(5) == "<":
                    # asof_join applies the bound INCLUSIVELY (dist <=
                    # tolerance); silently accepting `<` would wrongly
                    # match rows at exactly the bound
                    raise UnsupportedStatementError(
                        "ASOF", sql,
                        "tolerance must use <= (inclusive bound); strict < "
                        "is not supported",
                    )
                val, unit = tm.group(6), tm.group(7) or ""
                tol = (tm.group(1), tm.group(2), tm.group(3), tm.group(4),
                       f"INTERVAL '{val}' {unit}".strip())
                continue
            cm = self._RE_ASOF_CONJ.match(conj.strip())
            if not cm:
                raise UnsupportedStatementError(
                    "ASOF", sql, "ON must be alias.col {=|>=|<=} alias.col "
                    "conjuncts (+ optional a.ts - b.ts <= INTERVAL '…' tolerance)"
                )
            a_al, a_c, op, b_al, b_c = cm.groups()
            if {a_al, b_al} != {la, ra}:
                raise UnsupportedStatementError(
                    "ASOF", sql, f"ON aliases must be {la!r} and {ra!r}"
                )
            l_c, r_c = (a_c, b_c) if a_al == la else (b_c, a_c)
            if op == "=":
                keys.append((l_c, r_c))
                continue
            if ts_pair is not None:
                raise UnsupportedStatementError(
                    "ASOF", sql, "exactly one ts inequality in ON"
                )
            # l.ts >= r.ts == backward; sides/ops mirror
            fwd = (op == "<=") == (a_al == la)
            ts_pair = (l_c, r_c, "forward" if fwd else "backward")
        if ts_pair is None:
            raise UnsupportedStatementError(
                "ASOF", sql, "ON needs one ts inequality (a.ts >= b.ts)"
            )
        l_ts, r_ts, direction = ts_pair
        tolerance = None
        if tol is not None:
            # the minuend must be the LATER side of the match: backward
            # (l.ts >= r.ts) bounds l.ts - r.ts; forward bounds r.ts - l.ts
            m_al, m_c, s_al, s_c, ivl = tol
            want = (
                (la, l_ts, ra, r_ts)
                if direction == "backward"
                else (ra, r_ts, la, l_ts)
            )
            if (m_al, m_c, s_al, s_c) != want:
                raise UnsupportedStatementError(
                    "ASOF",
                    sql,
                    f"tolerance must bound {want[0]}.{want[1]} - "
                    f"{want[2]}.{want[3]} for this match direction",
                )
            tolerance = F.expr(ivl)

        # align right key names to the left's (the operator joins on shared
        # names) and de-collide right payload columns with a <ralias>_ prefix
        rename: dict[str, str] = {}
        for l_c, r_c in keys:
            if r_c != l_c:
                rename[r_c] = l_c
        for c in right.columns:
            if c in rename:
                continue
            out = c
            if c in left.columns and c not in [rc for _, rc in keys]:
                out = f"{ra}_{c}"
            if out != c:
                rename[c] = out
        for src, dst in rename.items():
            right = right.withColumnRenamed(src, dst)
        r_ts_out = rename.get(r_ts, r_ts)

        out = asof_join(
            left,
            right,
            on=[l_c for l_c, _ in keys],
            left_ts=l_ts,
            right_ts=r_ts_out,
            direction=direction,
            tolerance=tolerance,
        )
        if not m.group("left"):
            out = out.filter(F.col(r_ts_out).isNotNull())  # inner semantics
        view = f"__asof_{uuid.uuid4().hex[:8]}"
        out.createOrReplaceTempView(view)

        def strip_alias(txt: str) -> str:
            for src, dst in rename.items():
                txt = re.sub(rf"\b{re.escape(ra)}\.{re.escape(src)}\b", dst, txt)
            txt = re.sub(rf"\b{re.escape(ra)}\.", "", txt)
            return re.sub(rf"\b{re.escape(la)}\.", "", txt)

        sel = strip_alias(m.group("sel"))
        rest = strip_alias(m.group("rest") or "")
        return dialect.run(
            self.spark,
            f"SELECT {sel} FROM {view}{rest}",
            resolve_path=self._resolve_path,
        )

    def _query(self, sql: str) -> DataFrame:
        self._refresh(sql)
        for name in sorted(self._denied, key=len, reverse=True):
            if re.search(r"(?<![\w.`])" + re.escape(name) + r"(?![\w.])", sql):
                raise PermissionError(
                    f"user {self.lake.current_user!r} lacks SELECT on {name!r}"
                )
        sql = self._register_changes_views(sql)
        sql = self._register_index_views(sql)
        sql = self._rewrite_time_travel(sql)
        if re.search(r"\bASOF\s+(?:LEFT\s+)?JOIN\b", sql, re.I):
            return self._asof_query(sql)
        if hasattr(self, "_advisor"):
            # workload watcher (SURVEY §4 R8): fingerprint aggregate shapes
            # on the pre-rewrite text so dataset names stay dotted
            self._advisor.observe_sql(sql)
        if getattr(self, "use_reflection_routing", False):
            # covered-query substitution: serve a never-before-seen
            # aggregate from a fresh covering reflection's partials
            routed = self.advisor.route_sql(sql)
            if routed is not None:
                return routed
        if getattr(self, "use_result_cache", False) and re.match(
            r"^\s*(?:SELECT|WITH)\b", sql, re.I
        ):
            anchors = self._anchors_in_sql(sql)
            if anchors:
                prepared = dialect.prepare_statement(
                    self.spark, self._rewrite_names(sql), self._resolve_path
                )
                return self.accelerator.cached_sql(prepared, anchors)
        return dialect.run(
            self.spark, self._rewrite_names(sql), resolve_path=self._resolve_path
        )

    def _anchors_in_sql(self, sql: str) -> list[str]:
        """Lake tables a statement depends on, walking view references
        (result-cache freshness keys on their snapshot ids)."""
        anchors: set[str] = set()
        tables = self.lake._walk_tables()
        leaf_tables = {}
        for t in tables:
            leaf_tables.setdefault(t.split(".")[-1], []).append(t)
        seen: set[str] = set()
        stack = [sql]
        while stack:
            body = stack.pop()
            for t in tables:
                if re.search(r"(?<![\w.`])" + re.escape(t) + r"(?![\w.])", body):
                    anchors.add(t)
            for leaf, fulls in leaf_tables.items():
                if len(fulls) == 1 and re.search(
                    r"(?<![\w.`])" + re.escape(leaf) + r"(?![\w.])", body
                ):
                    anchors.add(fulls[0])
            for v, vbody in self.views.items():
                names = {v, v.split(".")[-1]}
                if v not in seen and any(
                    re.search(r"(?<![\w.`])" + re.escape(n) + r"(?![\w.])", body)
                    for n in names
                ):
                    seen.add(v)
                    stack.append(vbody)
        return sorted(anchors)

    def _create_table(self, m: re.Match) -> None:
        if_not_exists, name, rest = bool(m.group(1)), m.group(2), m.group(3).strip()
        # CTAS: CREATE TABLE t [PARTITION BY..] [DISTRIBUTE BY..] AS SELECT
        ctas = re.search(r"\bAS\s+(SELECT\b.*|WITH\b.*)$", rest, re.I | re.S)
        if ctas and not rest.startswith("("):
            head = rest[: ctas.start()]
            part, dist = _clause(_RE_PARTITION, head), _clause(_RE_DISTRIBUTE, head)
            df = self._query(ctas.group(1))
            srt = _clause(_RE_LOCALSORT, head)
            if srt:  # LOCALSORT BY (cols): sort within files at write
                df = df.sortWithinPartitions(*[c.strip() for c in srt.split(",")])
            if self.lake.table_exists(name) and if_not_exists:
                return
            self.lake.create_table_as(
                name,
                df,
                partition_by=_partition_specs(part) if part else None,
                distribute_by=dist.strip() if dist else None,
            )
            return
        if not rest.startswith("("):
            raise ValueError(f"unsupported CREATE TABLE shape: {rest[:80]}")
        end = dialect.matching_close(rest, 0)
        schema = _schema_from_coldefs(rest[1:end])
        part = _clause(_RE_PARTITION, rest[end + 1 :])
        self.lake.create_table(
            name,
            schema,
            partition_by=_partition_specs(part) if part else None,
            if_not_exists=if_not_exists,
        )

    def _insert(self, m: re.Match) -> None:
        name, collist, payload = m.group(1), m.group(2), m.group(3).strip()
        t = self.lake.table(name)
        schema = t.read().schema
        if payload.upper().startswith("VALUES"):
            src = self.spark.sql(dialect.translate(payload))
        else:
            src = self._query(payload)
        # positional mapping: explicit column list, else full table order
        # (column names may be double-quoted: manufacturing.sql:48 '"value"')
        names = (
            [c.strip().strip('"') for c in collist.split(",")]
            if collist
            else [f.name for f in schema.fields]
        )
        if len(src.columns) != len(names):
            raise ValueError(
                f"INSERT INTO {name}: {len(src.columns)} values for {len(names)} columns"
            )
        src = src.toDF(*names)
        by_name = {f.name: f for f in schema.fields}
        cols = []
        for f in schema.fields:
            if f.name in src.columns:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        unknown = [c for c in names if c not in by_name]
        if unknown:
            raise ValueError(f"INSERT INTO {name}: unknown columns {unknown}")
        t.append(src.select(*cols))

    def _update(self, m: re.Match) -> None:
        """``UPDATE t SET a = expr[, ...] [WHERE cond]`` (Dremio/Iceberg
        UPDATE; DML completion of the reference's INSERT/DELETE surface) ->
        :meth:`LakeTable.update_where` copy-on-write."""
        name, rest = m.groups()
        where = dialect.find_top(rest, ("WHERE",))
        set_clause = rest if where is None else rest[: where[0]]
        cond = None if where is None else rest[where[1] :].strip()
        assignments: dict[str, str] = {}
        for item in dialect.split_top(set_clause, ","):
            col, eq, expr = item.partition("=")
            if not eq:
                raise ValueError(f"UPDATE {name}: bad assignment {item!r}")
            assignments[col.strip().strip('"')] = dialect.translate(expr.strip())
        self.lake.table(name).update_where(
            assignments, dialect.translate(cond) if cond else "true"
        )

    def _merge(self, m: re.Match) -> None:
        """``MERGE INTO`` — full standard form (conditional WHEN clauses,
        column-level SET, DELETE, column-list INSERT, NOT MATCHED BY
        SOURCE) parsed into clauses for :meth:`LakeTable.merge_into`, which
        picks the plan (the plain upsert's anti-join included) and the
        write mode (``write.merge.mode``)."""
        target, talias, source, salias, rest = m.groups()
        talias = talias or target.split(".")[-1]
        salias = salias or source.split(".")[-1]
        st = m.string
        when = dialect.find_top(rest, ("WHEN",))
        if when is None:
            raise UnsupportedStatementError("MERGE", st, _DML_SUPPORTED_FORMS["MERGE"])
        on, tail = rest[: when[0]].strip(), rest[when[0] :]

        def parse_action(cond_grp, action_grp, set_grp) -> tuple:
            """('update'|'delete', cond, set) from a THEN UPDATE SET…/DELETE
            body — shared by WHEN MATCHED and WHEN NOT MATCHED BY SOURCE."""
            cond = dialect.translate(cond_grp) if cond_grp else None
            if action_grp.upper().startswith("DELETE"):
                return ("delete", cond, None)
            set_body = set_grp.strip().rstrip(";").strip()
            if set_body == "*":
                return ("update", cond, "*")
            assignments: dict[str, str] = {}
            for item in dialect.split_top(set_body, ","):
                col, eq, expr = item.partition("=")
                if not eq:
                    raise UnsupportedStatementError(
                        "MERGE", st, _DML_SUPPORTED_FORMS["MERGE"]
                    )
                col = col.strip().strip('"')
                # allow target-qualified assignment targets (t.col = ...)
                if col.startswith(f"{talias}."):
                    col = col[len(talias) + 1 :]
                assignments[col] = dialect.translate(expr.strip())
            return ("update", cond, assignments)

        matched: list[tuple] = []
        not_matched: list[tuple] = []
        not_matched_by_source: list[tuple] = []
        for clause in dialect.split_top(tail, "WHEN"):
            wnbs = _RE_WHEN_NOT_MATCHED_BY_SOURCE.match(clause)
            wm = None if wnbs else _RE_WHEN_MATCHED.match(clause)
            wn = None if wnbs or wm else _RE_WHEN_NOT_MATCHED.match(clause)
            if wnbs:
                not_matched_by_source.append(
                    parse_action(wnbs.group(1), wnbs.group(2), wnbs.group(3) or "")
                )
            elif wm:
                matched.append(
                    parse_action(wm.group(1), wm.group(2), wm.group(3) or "")
                )
            elif wn:
                cond = dialect.translate(wn.group(1)) if wn.group(1) else None
                body = wn.group(2).strip().rstrip(";").strip()
                if body == "*":
                    not_matched.append((cond, None, None))
                    continue
                im = _RE_INSERT_COLS_VALUES.match(body)
                if not im:
                    raise UnsupportedStatementError(
                        "MERGE", st, _DML_SUPPORTED_FORMS["MERGE"]
                    )
                cols = [c.strip().strip('"') for c in im.group(1).split(",")]
                values = [
                    dialect.translate(v.strip())
                    for v in dialect.split_top(im.group(2), ",")
                ]
                if len(cols) != len(values):
                    raise UnsupportedStatementError(
                        "MERGE", st, _DML_SUPPORTED_FORMS["MERGE"]
                    )
                not_matched.append((cond, cols, values))
            else:
                raise UnsupportedStatementError(
                    "MERGE", st, _DML_SUPPORTED_FORMS["MERGE"]
                )

        src_df = self._query(f"SELECT * FROM {source}")

        self.lake.table(target).merge_into(
            src_df,
            dialect.translate(on),
            matched=matched,
            not_matched=not_matched,
            not_matched_by_source=not_matched_by_source,
            target_alias=talias,
            source_alias=salias,
        )

    def _copy_into(self, m: re.Match) -> None:
        """COPY INTO t FROM '@src/dir' [REGEX '...'] [FILE_FORMAT 'csv']
        [(EXTRACT_HEADER TRUE, FIELD_DELIMITER ',', RECORD_DELIMITER '\\n')]
        (COPY INTO EXAMPLE/example.sql:13-21) -> sources.copy_into."""
        from ..sources import copy_into

        name, path, regex, fmt, opts_text = m.groups()
        opts: dict[str, str] = {}
        for key, quoted, bare in _RE_COPY_OPT.findall(opts_text or ""):
            opts[key.upper()] = quoted if quoted else bare
        kwargs: dict = {}
        if "EXTRACT_HEADER" in opts:
            kwargs["extract_header"] = opts.pop("EXTRACT_HEADER").lower() in ("true", "1")
        if "FIELD_DELIMITER" in opts:
            kwargs["field_delimiter"] = opts.pop("FIELD_DELIMITER")
        rec = opts.pop("RECORD_DELIMITER", None)
        if rec is not None:
            line_sep = rec.encode().decode("unicode_escape")
            if line_sep != "\n":  # Spark's csv default; only pass overrides
                kwargs["lineSep"] = line_sep
        kwargs.update({k.lower(): v for k, v in opts.items()})
        copy_into(
            self.lake.table(name),
            self._resolve_path(path),
            regex=regex or None,
            file_format=(fmt or "csv").lower(),
            **kwargs,
        )

    def _apply_changes(self, m: re.Match, st: str) -> None:
        """APPLY CHANGES INTO t FROM <changelog query> KEYS (k, ...) —
        the statement form of :meth:`LakeTable.apply_changes` (the DLT
        ``APPLY CHANGES INTO`` shape): inserts / update_postimage rows
        upsert by the keys (O(batch) equality-delete writes), keys whose
        net change is a pure delete are deleted. The source is any query
        producing ``_change_type`` rows — a TABLE(table_changes(...))
        TVF, a view, or a parenthesized SELECT."""
        target, source_q, keys_txt = m.groups()
        keys = [k.strip().strip('"') for k in keys_txt.split(",") if k.strip()]
        if not keys:
            raise UnsupportedStatementError(
                "APPLY", st, _DML_SUPPORTED_FORMS["APPLY"]
            )
        src = source_q.strip()
        if src.startswith("(") and src.endswith(")"):
            src = src[1:-1].strip()
        if not re.match(r"^(SELECT|WITH)\b", src, re.I):
            # bare table/view name or a TABLE(...) TVF
            src = f"SELECT * FROM {src}"
        df = self._query(src)
        if "_change_type" not in df.columns:
            raise UnsupportedStatementError(
                "APPLY", st, _DML_SUPPORTED_FORMS["APPLY"]
            )
        self.lake.table(target).apply_changes(df, keys)

    def _create_index(self, m: re.Match) -> None:
        """CREATE ANN|TEXT INDEX idx ON t (col) [KEY (id_col)]
        [OPTIONS (dim 64, m_sub 4, k_codes 16, n_cells 16, residual true,
        train_frac 0.5)] — the statement spelling of
        ``operators.ann_index.build_ann_index`` /
        ``operators.text_index.build_text_index`` (quantizers/postings
        persisted once, O(delta) REFRESH INDEX, TVF query spellings)."""
        kind, idx, table, col, key, opts_txt = m.groups()
        opts: dict = {}
        for k2, quoted, bare in _RE_COPY_OPT.findall(opts_txt or ""):
            opts[k2.lower()] = quoted if quoted else bare
        if kind.upper() == "ANN":
            from ..operators.ann_index import build_ann_index

            kw = dict(vec_col=col)
            if key:
                kw["id_col"] = key
            for name, cast in (
                ("dim", int), ("m_sub", int), ("k_codes", int),
                ("n_cells", int), ("train_frac", float),
            ):
                if name in opts:
                    kw[name] = cast(opts[name])
            if "residual" in opts:
                kw["residual"] = opts["residual"].lower() in ("true", "1")
            build_ann_index(self.lake, table, idx, **kw)
        else:
            from ..operators.text_index import build_text_index

            kw = dict(text_col=col)
            if key:
                kw["id_col"] = key
            build_text_index(self.lake, table, idx, **kw)

    def _index_kind_call(self, idx: str, action: str):
        """Dispatch REFRESH/DROP INDEX by probing which index kind owns
        the name (ann -> `{idx}_codes`, text -> `{idx}_postings`)."""
        if self.lake.table_exists(f"{idx}_codes"):
            if action == "refresh":
                from ..operators.ann_index import refresh_ann_index

                return refresh_ann_index(self.lake, idx)
            for part in ("codes", "centroids", "codebook", "ids"):
                self.lake.drop_table(f"{idx}_{part}", if_exists=True)
            return None
        if self.lake.table_exists(f"{idx}_postings"):
            if action == "refresh":
                from ..operators.text_index import refresh_text_index

                return refresh_text_index(self.lake, idx)
            for part in ("postings", "doclen", "stats"):
                self.lake.drop_table(f"{idx}_{part}", if_exists=True)
            return None
        raise ValueError(f"no such index: {idx}")

    def _register_index_views(self, sql: str) -> str:
        """JIT-register the persisted-index TVF query spellings as temp
        views and substitute the view name (the table_changes pattern):
        ``TABLE(ann_search('idx', 'queries', k[, nprobe]))`` — 'queries'
        is a lake table or registered view of (id, vector) rows — and
        ``TABLE(bm25_search('idx', 'space separated terms', n))``."""

        def ann_repl(m: re.Match) -> str:
            from ..operators.ann_index import ann_query

            idx, qname, k, nprobe = m.groups()
            qdf = (
                self.lake.table(qname).read()
                if self.lake.table_exists(qname)
                else self.spark.table(qname)
            )
            # the view name must distinguish EVERY input — two ann_search
            # calls in one statement differing only in the queries table
            # must not collapse to one view (advisor r9)
            # the sig hashes the FULL index name too: a.idx and b.idx
            # share the tail, and identical (queries, k, nprobe) against
            # both in one script must not clobber each other's views
            sig = hashlib.sha1(
                f"{idx}|{qname}|{k}|{nprobe or 4}".encode()
            ).hexdigest()[:8]
            view = f"__ann_{idx.split('.')[-1]}_{sig}"
            df = None
            if not self.lake.table_exists(f"{idx}_codes") and self.lake.table_exists(idx):
                # TVF spelled against the BASE table: the autonomous-index
                # twin of reflection routing (r9 'What's missing #2').
                # Observed shapes become CREATE ANN INDEX recommendations;
                # once accelerate() materialized the auto index, the same
                # spelling serves from it (refreshed O(delta) first) with
                # results identical to the one-shot.
                df = self._serve_search("ann", idx, qdf, int(k), int(nprobe or 4))
            if df is None:
                df = ann_query(
                    self.lake, idx, qdf, k=int(k), nprobe=int(nprobe or 4)
                )
            df.createOrReplaceTempView(view)
            return view

        def bm25_repl(m: re.Match) -> str:
            from ..operators.text_index import bm25_query

            idx, terms, n = m.groups()
            sig = hashlib.sha1(f"{idx}|{terms}|{n}".encode()).hexdigest()[:8]
            view = f"__bm25_{idx.split('.')[-1]}_{sig}"
            df = None
            if not self.lake.table_exists(f"{idx}_postings") and self.lake.table_exists(idx):
                df = self._serve_search("text", idx, terms.split(), int(n), None)
            if df is None:
                df = bm25_query(self.lake, idx, terms.split(), n=int(n))
            df.createOrReplaceTempView(view)
            return view

        def hybrid_repl(m: re.Match) -> str:
            from ..operators.ann_index import ann_query
            from ..operators.similarity import rrf_fuse
            from ..operators.text_index import bm25_query

            aidx, tidx, qname, terms, n, depth = m.groups()
            depth = int(depth or 50)
            qdf = (
                self.lake.table(qname).read()
                if self.lake.table_exists(qname)
                else self.spark.table(qname)
            )
            if qdf.count() != 1:
                # rrf_fuse folds ranks across the whole ANN list — with
                # several query vectors the fusion would silently mix
                # their neighborhoods into one meaningless ranking
                raise ValueError(
                    "hybrid_search expects a single-row queries table "
                    "(one query vector)"
                )
            # each side gets the ann_search/bm25_search treatment: a name
            # that is a BASE table (no persisted index yet) serves one-shot
            # while counting the shape for the advisor — once accelerate()
            # materialized the auto indexes, the same spelling serves from
            # them with identical results
            if not self.lake.table_exists(f"{tidx}_postings") and self.lake.table_exists(tidx):
                lex = self._serve_search("text", tidx, terms.split(), depth, None)
            else:
                lex = bm25_query(self.lake, tidx, terms.split(), n=depth)
            lex = lex.select("doc_id", "rank")
            if not self.lake.table_exists(f"{aidx}_codes") and self.lake.table_exists(aidx):
                sem = self._serve_search("ann", aidx, qdf, depth, 4)
            else:
                sem = ann_query(self.lake, aidx, qdf, k=depth, nprobe=4)
            sem = sem.select(F.col("cand_id").alias("doc_id"), "rank")
            df = rrf_fuse([lex, sem], n=int(n))
            sig = hashlib.sha1(
                f"{aidx}|{tidx}|{qname}|{terms}|{n}|{depth}".encode()
            ).hexdigest()[:8]
            view = f"__hy_{aidx.split('.')[-1]}_{sig}"
            df.createOrReplaceTempView(view)
            return view

        def rerank_repl(m: re.Match) -> str:
            from ..operators.ann_index import ann_query_rerank

            idx, qname, k, recall_m, nprobe = m.groups()
            qdf = (
                self.lake.table(qname).read()
                if self.lake.table_exists(qname)
                else self.spark.table(qname)
            )
            sig = hashlib.sha1(
                f"{idx}|{qname}|{k}|{recall_m or 20}|{nprobe or 4}".encode()
            ).hexdigest()[:8]
            view = f"__rr_{idx.split('.')[-1]}_{sig}"
            ann_query_rerank(
                self.lake, idx, qdf, k=int(k),
                recall_m=int(recall_m or 20), nprobe=int(nprobe or 4),
            ).createOrReplaceTempView(view)
            return view

        sql = _RE_HYBRID_TVF.sub(hybrid_repl, sql)
        sql = _RE_RERANK_TVF.sub(rerank_repl, sql)
        sql = _RE_ANN_TVF.sub(ann_repl, sql)
        return _RE_BM25_TVF.sub(bm25_repl, sql)

    def _serve_search(self, kind: str, table: str, q, a, b):
        """Serve an ann_search/bm25_search TVF spelled against a BASE
        table. Counts the shape for the advisor (if observation is on),
        then: auto index exists → O(delta) refresh + serve from it; no
        index yet → exact one-shot over the table (the observation is
        what eventually removes this path via ``accelerate()``)."""
        from .advisor import WorkloadAdvisor

        column = "embedding" if kind == "ann" else "text"
        if hasattr(self, "_advisor"):
            self._advisor.observe_search(kind, table)
        auto = WorkloadAdvisor._index_name(kind, table, column)
        if kind == "ann":
            if self.lake.table_exists(f"{auto}_codes"):
                from ..operators.ann_index import ann_query, refresh_ann_index

                refresh_ann_index(self.lake, auto)
                return ann_query(self.lake, auto, q, k=a, nprobe=b)
            from ..operators.ann_index import infer_ann_params
            from ..operators.similarity import knn_ivfpq

            # dim/m_sub inferred from the data with the SAME rule the
            # advisor's auto build uses, so index-serve == one-shot holds
            # for any corpus width, not just the 64-dim default
            corpus = self.lake.table(table).read()
            return knn_ivfpq(
                corpus, q, k=a, nprobe=b, **infer_ann_params(corpus)
            )
        if self.lake.table_exists(f"{auto}_postings"):
            from ..operators.text_index import bm25_query, refresh_text_index

            refresh_text_index(self.lake, auto)
            return bm25_query(self.lake, auto, q, n=a)
        from ..operators.textstats import bm25_topk

        return bm25_topk(self.lake.table(table).read(), q, n=a)

    # --------------------------------------------------------- reflections

    @property
    def accelerator(self):
        from .accelerator import AcceleratorRegistry

        if not hasattr(self, "_accelerator"):
            self._accelerator = AcceleratorRegistry(self.lake)
            # reflection bodies reference this runner's temp views; refresh
            # them before any out-of-script materialization so refresh()/
            # resolve() never pin a stale registration of the anchors
            self._accelerator.prepare_sql = self._refresh
            # lets incremental AGGREGATE refresh refuse shapes whose
            # dataset is one of this runner's logical views (their rows are
            # derived — only a full refresh through the definition is exact)
            self._accelerator.is_view = lambda d: d in self.views
            # view-aware routing: leaf view names canonicalize to their
            # full names, and shapes registered over a view record its
            # body so a redefinition invalidates them (the materialization
            # would otherwise serve the OLD definition while the anchors
            # never moved)
            self._accelerator.view_body = self._view_body_of
            self._accelerator.canonical_dataset = self._canonical_dataset
        return self._accelerator

    def _view_body_of(self, dataset: str) -> str | None:
        """Current body SQL of ``dataset`` when it names one of this
        runner's logical views (full or unambiguous leaf name)."""
        body = self.views.get(dataset)
        if body is None and "." not in dataset:
            matches = [v for v in self.views if v.split(".")[-1] == dataset]
            body = self.views[matches[0]] if len(matches) == 1 else None
        return body

    def _canonical_dataset(self, dataset: str) -> str | None:
        """Full name ``dataset`` denotes on this runner's surface: a view's
        full name (leaf references resolved when unambiguous), else a lake
        table's full name, else None (accelerator falls back to its own
        resolution)."""
        if dataset in self.views:
            return dataset
        if "." not in dataset:
            matches = [v for v in self.views if v.split(".")[-1] == dataset]
            if len(matches) == 1:
                return matches[0]
        return None

    @property
    def advisor(self):
        """Workload-based reflection recommender (readme.md:381-389; SURVEY
        §4 R8). Accessing it turns on observation; then
        ``advisor.recommendations()`` / ``runner.accelerate()``."""
        from .advisor import WorkloadAdvisor

        if not hasattr(self, "_advisor"):
            self._advisor = WorkloadAdvisor(self.accelerator)
        return self._advisor

    def accelerate(self) -> list[str]:
        """Create every recommended reflection, anchored through the view
        stack (a recommendation on a view anchors to its base tables)."""

        # no refresh here: every definition runs through the accelerator,
        # whose prepare hook refreshes once per materialization
        return self.advisor.apply(
            anchors_for=self._dataset_anchors,
            prepare_sql=self._rewrite_names,
            view_body_for=self._view_body_of,
        )

    _RE_AT_SNAPSHOT = re.compile(r"\b([\w.]+)\s+AT\s+SNAPSHOT\s+'(\d+)'", re.I)
    _RE_AT_TIMESTAMP = re.compile(r"\b([\w.]+)\s+AT\s+TIMESTAMP\s+'([^']+)'", re.I)
    _RE_AT_TAG = re.compile(r"\b([\w.]+)\s+AT\s+TAG\s+'([\w-]+)'", re.I)
    _RE_AT_BRANCH = re.compile(r"\b([\w.]+)\s+AT\s+BRANCH\s+'([\w-]+)'", re.I)

    def _rewrite_time_travel(self, sql: str) -> str:
        """Dremio time-travel SQL: ``FROM t AT SNAPSHOT '<id>'`` / ``AT
        TIMESTAMP '<ts>'`` (readme.md:357-370 time travel; the reference
        drives it via the API, Dremio's dialect also takes it inline).
        Each reference becomes a temp view over the pinned snapshot read —
        metadata-only cost, pruning intact."""

        def resolve(name: str) -> str | None:
            if self.lake.table_exists(name):
                return name
            matches = [
                full for full in self.lake._walk_tables()
                if full.split(".")[-1] == name
            ]
            return matches[0] if len(matches) == 1 else None

        def snap(m: re.Match) -> str:
            full = resolve(m.group(1))
            if full is None:
                return m.group(0)
            sid = int(m.group(2))
            v = f"{full.split('.')[-1]}__snap_{sid}"
            self.lake.table(full).read(snapshot_id=sid).createOrReplaceTempView(v)
            return v

        def ts(m: re.Match) -> str:
            full = resolve(m.group(1))
            if full is None:
                return m.group(0)
            import datetime as _dt

            t = _dt.datetime.fromisoformat(m.group(2))
            # a literal with an explicit offset names an instant — convert;
            # only NAIVE literals get the UTC default (replace() on an
            # offset-carrying literal would silently pin a different instant)
            if t.tzinfo is None:
                t = t.replace(tzinfo=_dt.timezone.utc)
            else:
                t = t.astimezone(_dt.timezone.utc)
            ms = int(t.timestamp() * 1000)
            v = f"{full.split('.')[-1]}__asof_{ms}"
            self.lake.table(full).read(as_of_ms=ms).createOrReplaceTempView(v)
            return v

        def tag(m: re.Match) -> str:
            full = resolve(m.group(1))
            if full is None:
                return m.group(0)
            v = f"{full.split('.')[-1]}__tag_{m.group(2)}"
            self.lake.table(full).read_tag(m.group(2)).createOrReplaceTempView(v)
            return v

        def branch(m: re.Match) -> str:
            full = resolve(m.group(1))
            if full is None:
                return m.group(0)
            v = f"{full.split('.')[-1]}__branch_{m.group(2)}"
            self.lake.table(full).read_branch(m.group(2)).createOrReplaceTempView(v)
            return v

        sql = self._RE_AT_BRANCH.sub(branch, self._RE_AT_TAG.sub(tag, sql))
        return self._RE_AT_TIMESTAMP.sub(ts, self._RE_AT_SNAPSHOT.sub(snap, sql))

    def _register_changes_views(self, sql: str) -> str:
        """JIT-register ``TABLE(table_changes('t', from[, to]))`` as a
        temp view over :meth:`LakeTable.read_changes` and substitute the
        view name — the SQL surface of the changelog (Delta's
        table_changes shape). Bounds are snapshot ids or ``TIMESTAMP
        '…'`` literals, the latter resolved to the snapshot current at
        that instant (UTC, matching the pinned session timezone)."""
        def bound(t, tok, is_to=False):
            if tok is None or tok.upper() == "NULL":
                return None
            tm = re.match(r"TIMESTAMP\s*'([^']+)'", tok, re.I)
            if tm is None:
                return int(tok)
            from datetime import datetime, timezone

            dt = datetime.fromisoformat(tm.group(1))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=timezone.utc)
            sid = t.snapshot_id_at(int(dt.timestamp() * 1000))
            if sid is None and is_to:
                # a 'to' instant before the first snapshot: None would
                # silently mean "current" — refuse instead
                raise ValueError(
                    f"no snapshot of {t.name} at or before {tm.group(1)}"
                )
            return sid  # None as 'from' = since the empty table

        def repl(m: re.Match) -> str:
            name = m.group(1)
            t = self.lake.table(name)
            frm = bound(t, m.group(2))
            to = bound(t, m.group(3), is_to=True)
            leaf = name.split(".")[-1]
            view = f"{leaf}__changes_{frm or 0}_{to or 0}"
            t.read_changes(frm, to).createOrReplaceTempView(view)
            return view

        return _RE_CHANGES_TVF.sub(repl, sql)

    def _dataset_anchors(self, dataset: str) -> list[str]:
        """Lake tables a dataset depends on: itself if it is a table, else
        the tables referenced (transitively) by the view chain."""
        if self.lake.table_exists(dataset):
            return [dataset]
        if dataset not in self.views:
            # leaf-name reference (tables/views register under their leaf
            # too): resolve when unambiguous
            matches = [
                full
                for full in list(self.lake._walk_tables()) + list(self.views)
                if full.split(".")[-1] == dataset
            ]
            if len(matches) == 1:
                return self._dataset_anchors(matches[0])
            raise ValueError(f"unknown dataset: {dataset}")
        seen: set[str] = set()
        stack = [self.views[dataset]]
        anchors: set[str] = set()
        tables = self.lake._walk_tables()
        while stack:
            body = stack.pop()
            for t in tables:
                if re.search(r"(?<![\w.`])" + re.escape(t) + r"(?![\w.])", body):
                    anchors.add(t)
            for v, vbody in self.views.items():
                if v not in seen and re.search(
                    r"(?<![\w.`])" + re.escape(v) + r"(?![\w.])", body
                ):
                    seen.add(v)
                    stack.append(vbody)
        return sorted(anchors)

    def _create_reflection(self, m: re.Match) -> None:
        """``ALTER DATASET d CREATE [RAW|AGGREGATE] REFLECTION r USING ...``
        (readme.md:322-326) -> plans.accelerator. USING forms:
        RAW (full materialization), DISPLAY (cols), DIMENSIONS (d1,..)
        MEASURES (m (SUM, COUNT), ..) for aggregation reflections."""
        dataset, name, using = m.group(1), m.group(2), m.group(3).strip()
        src = self._vname(dataset) if "." in dataset else dataset
        raw_cols: list[str] | None = None  # for RAW/DISPLAY shape routing
        is_raw = False
        if using.upper().rstrip(" ;") == "RAW":
            body = f"SELECT * FROM {src}"
            is_raw = True
        elif _RE_USING_DISPLAY.match(using):
            cols = _clause(_RE_USING_DISPLAY, using)
            body = f"SELECT {cols} FROM {src}"
            raw_cols = [c.strip() for c in dialect.split_top(cols, ",")]
            is_raw = True
        elif _RE_USING_DIMENSIONS.match(using):
            dims = _clause(_RE_USING_DIMENSIONS, using)
            meas_txt = _clause(_RE_MEASURES, using)
            dim_list = [d.strip() for d in dialect.split_top(dims, ",")]
            # the stored partials of each declared measure, in order
            needed: dict[tuple[str, str], None] = {}
            for item in dialect.split_top(meas_txt or "", ","):
                mm = _RE_MEASURE_ITEM.match(item.strip())
                col, aggs = mm.group(1), (mm.group(2) or "SUM")
                for agg in (a.strip().upper() for a in aggs.split(",")):
                    needed.update(dict.fromkeys(partials_needed(agg, col)))
            measure_pairs = list(needed)
            body = (
                f"SELECT {', '.join(dim_list + partial_items(measure_pairs))} "
                f"FROM {src} GROUP BY {', '.join(dim_list)}"
            )
        else:
            raise ValueError(f"unsupported USING clause: {using[:60]}")
        # the definition runs through the accelerator's prepare hook, which
        # refreshes the views once — no refresh of its own here
        self.accelerator.create_reflection(
            name, self._rewrite_names(body), self._dataset_anchors(dataset)
        )
        if is_raw:
            # RAW/DISPLAY reflections register their stored columns so
            # plain projection/filter queries over the dataset — or over
            # the join a join view spells — route to the materialization:
            # the workshop's headline acceleration
            # (customer_spend_reflection USING RAW, readme.md:320-355)
            self.accelerator.register_raw_shape(
                name, dataset, raw_cols, view_body=self._view_body_of(dataset)
            )
        if _RE_USING_DIMENSIONS.match(using):
            # aggregation reflections register their shape so covered
            # queries (dims a subset, AVG from SUM+COUNT) can route to them.
            # A reflection on a plain projection over an inner equi-join
            # VIEW — every dim/measure column passing through UNCHANGED (an
            # aliased or computed column would make the stored partials
            # mean something else than the raw column) — registers the
            # join subtree as its second identity: queries written directly
            # against the same join (not the view) route too — Dremio's
            # headline acceleration (readme.md:331-355; customer_spend IS a
            # join view, readme.md:307-329)
            jv = parse_join_view(self._view_body_of(dataset))
            cols = set(dim_list) | {c for c, _ in measure_pairs if c != "*"}
            if jv is not None and jv.group is None and (
                "*" in jv.items or cols <= jv.passed_through()
            ):
                self.accelerator.register_join_agg_shape(
                    name, jv.tables, jv.keys, dim_list, measure_pairs,
                    view_body=jv.body, dataset=dataset,
                )
            else:
                self.accelerator.register_agg_shape(
                    name, dataset, dim_list, measure_pairs,
                    view_body=self._view_body_of(dataset),
                )

    # ------------------------------------------------------------- driver

    def run(self, sql: str):
        """Execute a script; returns the last query's DataFrame (or None if
        the script ends with DDL/DML)."""
        result = None
        for st in dialect.split_statements(sql):
            m = _RE_FOLDER.match(st)
            if m:
                self.lake.create_namespace(m.group(1))
                continue
            m = _RE_VIEW.match(st)
            if m:
                from ..functions import ai as _ai

                _ai.register_sql_udfs(self.spark)
                body = dialect.rewrite_list_files(
                    self.spark, m.group(2), self._resolve_path
                )
                self.views[m.group(1)] = _ai.rewrite_ai_generate(
                    self.spark, dialect.translate(body)
                )
                continue
            m = _RE_CREATE_TABLE.match(st)
            if m:
                self._create_table(m)
                continue
            m = _RE_INSERT.match(st)
            if m:
                self._insert(m)
                continue
            m = _RE_DELETE.match(st)
            if m:
                cond = dialect.translate(m.group(2)) if m.group(2) else "true"
                self.lake.table(m.group(1)).delete_where(cond)
                continue
            m = _RE_UPDATE.match(st)
            if m:
                self._update(m)
                continue
            m = _RE_MERGE.match(st)
            if m:
                self._merge(m)
                continue
            m = _RE_DROP.match(st)
            if m:
                self.lake.drop_table(m.group(2), if_exists=bool(m.group(1)))
                continue
            m = _RE_OPTIMIZE.match(st)
            if m:
                # the traditional Iceberg maintenance command Dremio
                # automates (readme.md:393): bin-pack small files + expire
                # old snapshots (SURVEY §4 R9)
                self.lake.table(m.group(1)).maintain()
                continue
            m = _RE_OPTIMIZE_DELETES.match(st)
            if m:
                self.lake.table(m.group(1)).fold_deletes()
                continue
            m = _RE_OPTIMIZE_EXT.match(st)
            if m and (m.group("part") or m.group("mb") or m.group("kind")):
                cols = (
                    [c.strip().strip('"') for c in m.group("cols").split(",")]
                    if m.group("cols")
                    else None
                )
                kind = (m.group("kind") or "").upper()
                self.lake.table(m.group(1)).compact(
                    target_file_mb=int(m.group("mb") or 128),
                    sort_by=cols if kind == "SORT" else None,
                    zorder_by=cols if kind == "CLUSTER" else None,
                    where=(
                        dialect.translate(m.group("part"))
                        if m.group("part")
                        else None
                    ),
                )
                continue
            m = _RE_VACUUM.match(st)
            if m:
                older_ms = None
                if m.group(2):
                    import datetime as _dt

                    ts = _dt.datetime.fromisoformat(m.group(2))
                    ts = (
                        ts.replace(tzinfo=_dt.timezone.utc)
                        if ts.tzinfo is None
                        else ts.astimezone(_dt.timezone.utc)
                    )
                    older_ms = int(ts.timestamp() * 1000)
                self.lake.table(m.group(1)).expire_snapshots(
                    keep_last=int(m.group(3) or 1), older_than_ms=older_ms
                )
                continue
            m = _RE_ADD_PART_FIELD.match(st)
            if m:
                # Iceberg partition evolution: metadata-only, new commits
                # adopt the new layout, old files never rewritten
                for spec in _partition_specs(m.group(2)):
                    self.lake.table(m.group(1)).add_partition_field(spec)
                continue
            m = _RE_DROP_PART_FIELD.match(st)
            if m:
                for spec in _partition_specs(m.group(2)):
                    self.lake.table(m.group(1)).drop_partition_field(spec)
                continue
            m = _RE_ADD_COL.match(st)
            if m:
                # Iceberg schema evolution (readme.md:357 region; metadata-
                # only, no data rewrite — existing rows read as NULL)
                self.lake.table(m.group(1)).add_column(
                    m.group(2), _ddl_type(m.group(3))
                )
                continue
            m = _RE_CREATE_TAG.match(st)
            if m:
                self.lake.table(m.group(1)).create_tag(
                    m.group(2),
                    int(m.group(3)) if m.group(3) else None,
                )
                continue
            m = _RE_DROP_TAG.match(st)
            if m:
                self.lake.table(m.group(1)).drop_tag(m.group(2))
                continue
            m = _RE_CREATE_BRANCH.match(st)
            if m:
                self.lake.table(m.group(1)).create_branch(
                    m.group(2), int(m.group(3)) if m.group(3) else None
                )
                continue
            m = _RE_DROP_BRANCH.match(st)
            if m:
                self.lake.table(m.group(1)).drop_branch(m.group(2))
                continue
            m = _RE_RENAME_COL.match(st)
            if m:
                self.lake.table(m.group(1)).rename_column(m.group(2), m.group(3))
                continue
            m = _RE_DROP_COL.match(st)
            if m:
                # Iceberg schema evolution: metadata-only, data files never
                # rewritten; old snapshots keep the pre-drop shape
                self.lake.table(m.group(1)).drop_column(m.group(2))
                continue
            m = _RE_SET_PROPS.match(st)
            if m:
                pairs = dict(_PROP_PAIR_RE.findall(m.group(2)))
                if not pairs:
                    raise UnsupportedStatementError(
                        "ALTER", st, "SET TBLPROPERTIES needs 'k' = 'v' pairs"
                    )
                self.lake.table(m.group(1)).set_properties(pairs)
                continue
            m = _RE_UNSET_PROPS.match(st)
            if m:
                self.lake.table(m.group(1)).unset_properties(
                    _PROP_KEY_RE.findall(m.group(2))
                )
                continue
            m = _RE_SHOW_PROPS.match(st)
            if m:
                props = self.lake.table(m.group(1)).properties()
                result = local_frame(
                    self.spark, sorted(props.items()), "key STRING, value STRING"
                )
                continue
            m = _RE_ROLLBACK.match(st)
            if m:
                # Dremio/Iceberg rollback: metadata-only new history entry
                # pointing at the old snapshot's files
                t = self.lake.table(m.group(1))
                if m.group(2).upper() == "SNAPSHOT":
                    t.rollback_to(int(m.group(3)))
                else:
                    import datetime as _dt

                    ts = _dt.datetime.fromisoformat(m.group(3))
                    # naive literals default to UTC; offset-carrying ones
                    # already name an instant (same rule as AT TIMESTAMP)
                    ts = (
                        ts.replace(tzinfo=_dt.timezone.utc)
                        if ts.tzinfo is None
                        else ts.astimezone(_dt.timezone.utc)
                    )
                    t.rollback_to_timestamp(int(ts.timestamp() * 1000))
                continue
            m = _RE_SHOW_TABLES.match(st)
            if m:
                names = (
                    [
                        f"{m.group(1)}.{t}"
                        for t in self.lake.list_tables(m.group(1))
                    ]
                    if m.group(1)
                    else self.lake._walk_tables()
                )
                result = local_frame(
                    self.spark, [(n,) for n in names], "table_name STRING"
                )
                continue
            m = _RE_SHOW_FOLDERS.match(st)
            if m:
                result = local_frame(
                    self.spark,
                    [(n,) for n in self.lake.list_namespaces(m.group(1))],
                    "folder_name STRING",
                )
                continue
            if re.fullmatch(r"SHOW\s+INDEXES", st, re.I):
                # every persisted search index in the lake: kind, source,
                # freshness — the index twin of reflections' status()
                rows = []
                for t in sorted(self.lake._walk_tables()):
                    if t.endswith("_codes"):
                        kind, idx, mod = "ann", t[: -len("_codes")], "ann_index"
                    elif t.endswith("_postings"):
                        kind, idx, mod = "text", t[: -len("_postings")], "text_index"
                    else:
                        continue
                    try:
                        if kind == "ann":
                            from ..operators.ann_index import ann_index_status

                            info = ann_index_status(self.lake, idx)
                        else:
                            from ..operators.text_index import text_index_status

                            info = text_index_status(self.lake, idx)
                    except Exception:
                        continue  # a *_codes/_postings table that isn't an index
                    rows.append(
                        (
                            idx,
                            kind,
                            info["source_table"],
                            info["indexed_snapshot_id"],
                            info["source_snapshot_id"],
                            bool(info["fresh"]),
                        )
                    )
                result = local_frame(
                    self.spark,
                    rows,
                    "name STRING, kind STRING, source_table STRING, "
                    "indexed_snapshot_id BIGINT, source_snapshot_id BIGINT, "
                    "fresh BOOLEAN",
                )
                continue
            if re.fullmatch(r"SHOW\s+RECOMMENDATIONS", st, re.I):
                # the advisor's pending shapes (reflections AND persisted
                # indexes) as a relation — the SQL window into the
                # autonomous lifecycle (readme.md:381-389); accessing it
                # turns observation on for subsequent statements
                rows = [
                    (
                        r["name"],
                        r.get("kind", "raw" if "raw_cols" in r else "agg"),
                        r["dataset"],
                        r["hits"],
                        r.get("refused_reason"),
                    )
                    for r in self.advisor.recommendations()
                ]
                result = local_frame(
                    self.spark,
                    rows,
                    "name STRING, kind STRING, dataset STRING, "
                    "hits BIGINT, refused_reason STRING",
                )
                continue
            if re.fullmatch(r"ACCELERATE", st, re.I):
                # materialize every pending recommendation (reflections
                # via the registry, indexes via the builders)
                result = local_frame(
                    self.spark, [(n,) for n in self.accelerate()], "created STRING"
                )
                continue
            m = _RE_DESCRIBE.match(st)
            if m and self.lake.table_exists(m.group(1)):
                schema = self.lake.table(m.group(1)).read().schema
                result = local_frame(
                    self.spark,
                    [
                        (f.name, f.dataType.simpleString(), f.nullable)
                        for f in schema.fields
                    ],
                    "column_name STRING, data_type STRING, nullable BOOLEAN",
                )
                continue
            m = _RE_EXPLAIN.match(st)
            if m:
                # EXPLAIN [PLAN FOR] <query>: run the inner statement
                # through the same dialect pipeline, return the formatted
                # physical plan as a one-column frame (Dremio's EXPLAIN
                # PLAN surface; readers get the REAL Spark plan — the
                # thing the engine's scale claims are audited against)
                inner = self.run(m.group(1))
                if inner is None:
                    raise UnsupportedStatementError(
                        "EXPLAIN", st, "EXPLAIN PLAN FOR <query> (SELECT ...)"
                    )
                plan = self.spark.sparkContext._jvm.PythonSQLUtils.explainString(
                    inner._jdf.queryExecution(), "formatted"
                )
                result = local_frame(
                    self.spark, [(plan,)], "plan STRING"
                )
                continue
            m = _RE_WIDEN_COL.match(st)
            if m:
                self.lake.table(m.group(1)).widen_column(
                    m.group(2), _ddl_type(m.group(3))
                )
                continue
            m = _RE_GRANT.match(st)
            if m:
                privs, obj_type, obj_name, who_type, who = m.groups()
                self.lake.grant(
                    [p.strip() for p in privs.replace("\n", " ").split(",")],
                    obj_type,
                    (obj_name or "").strip('"'),
                    who_type,
                    who.strip('"'),
                )
                continue
            m = _RE_REVOKE.match(st)
            if m:
                privs, obj_type, obj_name, who_type, who = m.groups()
                self.lake.revoke(
                    [p.strip() for p in privs.replace("\n", " ").split(",")],
                    obj_type,
                    (obj_name or "").strip('"'),
                    who_type,
                    who.strip('"'),
                )
                continue
            m = _RE_COPY_INTO.match(st)
            if m:
                self._copy_into(m)
                continue
            m = _RE_APPLY_CHANGES.match(st)
            if m:
                self._apply_changes(m, st)
                continue
            m = _RE_CREATE_INDEX.match(st)
            if m:
                self._create_index(m)
                continue
            m = _RE_REFRESH_INDEX.match(st)
            if m:
                self._index_kind_call(m.group(1), "refresh")
                continue
            m = _RE_DROP_INDEX.match(st)
            if m:
                try:
                    self._index_kind_call(m.group(2), "drop")
                except ValueError:
                    if not m.group(1):
                        raise
                continue
            m = _RE_CREATE_REFLECTION.match(st)
            if m:
                self._create_reflection(m)
                continue
            m = _RE_DROP_REFLECTION.match(st)
            if m:
                self.accelerator.drop_reflection(m.group(1))
                continue
            head = st.split(None, 1)[0].upper() if st.split() else ""
            if head in _DML_SUPPORTED_FORMS:
                # lake DDL/DML whose shape no route accepted: fail with the
                # dialect's contract, not a downstream Spark parse error
                raise UnsupportedStatementError(
                    head, st, _DML_SUPPORTED_FORMS[head]
                )
            result = self._query(st)
        return result
