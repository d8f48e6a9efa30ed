"""Dremio-SQL → Spark-SQL dialect layer (SURVEY §7 guiding decisions).

The reference's ~3,100 lines of workshop SQL are Dremio dialect. Almost all
of it is ANSI and runs on Spark unmodified; this module translates the
handful of Dremio-isms so reference scripts execute verbatim-in-spirit
through ``spark.sql``:

| Dremio-ism | Spark form | reference evidence |
|---|---|---|
| ``CREATE FOLDER [IF NOT EXISTS]`` | ``CREATE NAMESPACE …`` | finance_example.sql:4-7 |
| ``"quoted" identifiers`` | backticks | manufacturing.sql:42; recipes.sql:5-8 |
| ``TO_TIMESTAMP(s, fmt, 1)`` (on-error-null) | ``try_to_timestamp(s, fmt')`` | semantic_example.sql:113-121 |
| ``TO_DATE(s, fmt)`` / ``TO_TIMESTAMP(s, fmt)`` format codes ``YYYY MM DD HH24 MI SS`` | ``yyyy MM dd HH mm ss`` | semantic_example.sql:179-187 |
| ``TIMESTAMPADD(DAY, n, ts)`` | same (Spark ≥3.3) — passthrough | gov_example.sql:80,84 |
| ``LISTAGG(DISTINCT c, ', ')`` | ``array_join(collect_set(c), ', ')`` | media_ai.sql:195 |
| ``TABLE(table_snapshot('t'))`` / ``(table_history('t'))`` | lakeshim ``snapshots()`` / ``history()`` temp view | readme.md:360-370 |
| ``TABLE(LIST_FILES('@src/p'))`` | ``list_files()`` temp view | ai_generate.sql:19-21 |

Only *lexical* rewrites are done here (regex over non-string regions of the
SQL text); anything structural (COPY INTO, reflections) has a dedicated
module (``sources.copy_into``, ``plans.accelerator``). The translator never
touches string literals.
"""

from __future__ import annotations

import functools
import re
from typing import NamedTuple

# ---------------------------------------------------------------- lexing
# The one SQL lexer: every module that cuts SQL text (statement splits,
# clause keywords, MERGE WHEN clauses, DDL column lists, pruning conjuncts,
# reflection-routing predicates, AI_GENERATE calls) reads it through
# ``tokens`` and the four helpers below it.

_TOKEN = re.compile(
    r"""(?P<str>'[^']*(?:''[^']*)*'?)                  # 'string', '' escapes
      | (?P<qid>"[^"]*(?:""[^"]*)*"?|`[^`]*(?:``[^`]*)*`?)  # "id" / `id`
      | (?P<com>--[^\n]*|/\*.*?(?:\*/|\Z))             # -- and /* */
      | (?P<ws>\s+)
      | (?P<word>\w+)
      | (?P<op>.)""",
    re.S | re.X,
)


class Token(NamedTuple):
    """One lexeme. ``kind`` is str / qid / com / ws / word / ident / op —
    ``ident`` is a word right after ``.`` (a column or table part, never a
    keyword). ``depth`` is the nesting level the token sits at: ``(``/``[``
    and ``CASE`` open a level, ``)``/``]`` and ``END`` close it, and an
    opener or closer sits at its outer level."""

    kind: str
    text: str
    pos: int
    depth: int


@functools.lru_cache(maxsize=256)
def tokens(sql: str) -> tuple[Token, ...]:
    out: list[Token] = []
    stack: list[str] = []
    prev = ""  # text of the last non-blank token
    for m in _TOKEN.finditer(sql):
        kind, text = m.lastgroup, m.group()
        depth = len(stack)
        if kind == "word":
            if prev == ".":
                kind = "ident"
            elif text.upper() == "CASE":
                stack.append("CASE")
            elif text.upper() == "END" and stack and stack[-1] == "CASE":
                depth = len(stack) - 1
                stack.pop()
        elif kind == "op":
            if text in "([":
                stack.append(text)
            elif text in ")]":
                while stack and stack.pop() == "CASE":
                    pass  # an unclosed CASE ends with its bracket
                depth = len(stack)
        out.append(Token(kind, text, m.start(), depth))
        if kind not in ("ws", "com"):
            prev = text
    return tuple(out)


def _keywords(toks, start: int, words: tuple[str, ...]):
    """Yield (token index, end index, matched word) for every depth-0
    occurrence of one of ``words`` (multi-word entries such as 'ORDER BY'
    match across blanks; earlier entries win at the same position)."""
    sig = [i for i, t in enumerate(toks) if t.kind not in ("ws", "com")]
    parts = [(w, w.upper().split()) for w in words]
    for n, i in enumerate(sig):
        t = toks[i]
        if t.kind != "word" or t.depth or t.pos < start:
            continue
        for w, ws in parts:
            run = sig[n : n + len(ws)]
            if len(run) == len(ws) and all(
                toks[j].kind == "word" and toks[j].text.upper() == p
                for j, p in zip(run, ws)
            ):
                yield i, run[-1], w
                break


def find_top(sql: str, words: tuple[str, ...], start: int = 0):
    """``(start, end)`` character span of the first depth-0 keyword from
    ``words`` at or after ``start``, or None."""
    toks = tokens(sql)
    for i, j, _w in _keywords(toks, start, words):
        return toks[i].pos, toks[j].pos + len(toks[j].text)
    return None


def split_top(sql: str, sep: str) -> list[str]:
    """Split ``sql`` at each depth-0 ``sep`` — ``,`` / ``;`` or a keyword
    (``AND``, ``OR``, ``WHEN``) — into stripped, non-empty pieces. The
    ``AND`` of a ``BETWEEN`` stays inside its conjunct."""
    toks = tokens(sql)
    if sep.isalpha():
        cuts, between = [], False
        for i, j, w in _keywords(toks, 0, (sep, "BETWEEN")):
            if w == "BETWEEN":
                between = sep == "AND"
            elif between:
                between = False
            else:
                cuts.append((toks[i].pos, toks[j].pos + len(toks[j].text)))
    else:
        cuts = [
            (t.pos, t.pos + 1)
            for t in toks
            if t.kind == "op" and t.text == sep and not t.depth
        ]
    pieces, last = [], 0
    for a, b in cuts:
        pieces.append(sql[last:a])
        last = b
    pieces.append(sql[last:])
    return [p.strip() for p in pieces if p.strip()]


def matching_close(sql: str, start: int) -> int:
    """Index of the bracket closing the ``(``/``[`` at ``start``."""
    for t in tokens(sql[start:])[1:]:
        if t.kind == "op" and t.text in ")]" and not t.depth:
            return start + t.pos
    raise ValueError(f"unbalanced brackets in {sql[start:start + 80]!r}")


def strip_parens(sql: str) -> str:
    """``sql`` without the parentheses that wrap all of it, at any count."""
    sql = sql.strip()
    while True:
        top = [t for t in tokens(sql) if not t.depth and t.kind not in ("ws", "com")]
        if [t.text for t in top] != ["(", ")"] or top[1].pos != len(sql) - 1:
            return sql
        sql = sql[1:-1].strip()


def map_code_regions(sql: str, fn) -> str:
    """Apply ``fn`` to each run of ``sql`` between string literals; the
    literals pass through unchanged."""
    out: list[str] = []
    code: list[str] = []
    for t in tokens(sql):
        if t.kind == "str":
            if code:
                out.append(fn("".join(code)))
                code = []
            out.append(t.text)
        else:
            code.append(t.text)
    if code:
        out.append(fn("".join(code)))
    return "".join(out)


# ------------------------------------------------------- format strings

_FMT_MAP = [
    ("YYYY", "yyyy"),
    ("HH24", "HH"),
    ("MI", "mm"),
    ("SS", "ss"),
    ("DD", "dd"),
    # Dremio MM (month) == Spark MM; keep after MI so MI→mm wins first.
]


def translate_datetime_format(fmt: str) -> str:
    """Dremio/Oracle-style codes → Spark SimpleDateFormat-style
    (semantic_example.sql:113 'YYYY/MM/DD HH24:MI:SS' → 'yyyy/MM/dd
    HH:mm:ss'; SURVEY §2.8 date/time row). Dremio quotes literal text with
    double quotes ('YYYY-MM-DD"T"HH24:MI:SS"Z"', semantic_example.sql:117)
    — Spark's pattern syntax uses single quotes for literals."""
    out = fmt
    for a, b in _FMT_MAP:
        out = out.replace(a, b)
    return re.sub(r'"([^"]*)"', r"'\1'", out)


_TO_FN_FMT = re.compile(
    r"(TO_(?:TIMESTAMP|DATE))\s*\(\s*([^,()]+?)\s*,\s*'([^']*)'\s*(?:,\s*1\s*)?\)",
    re.I,
)


def _rewrite_to_fn(sql: str) -> str:
    """TO_TIMESTAMP(s, 'fmt'[, 1]) → [try_]to_timestamp(s, 'fmt'') with
    format-code translation. The 3-arg form's trailing ``1`` means
    null-on-error (semantic_example.sql:113) → always map to try_*."""

    def repl(m: re.Match) -> str:
        fn, arg, fmt = m.group(1), m.group(2), m.group(3)
        # literal quotes in the pattern ("T" -> 'T') double up inside the
        # SQL string literal
        spark_fmt = translate_datetime_format(fmt).replace("'", "''")
        lenient = m.group(0).rstrip(")").rstrip().endswith("1")
        base = fn.lower()
        name = ("try_" + base) if lenient else base
        return f"{name}({arg}, '{spark_fmt}')"

    return _TO_FN_FMT.sub(repl, sql)


# ------------------------------------------------------------- LISTAGG

_LISTAGG = re.compile(
    r"LISTAGG\s*\(\s*(DISTINCT\s+)?([^,()]+?)\s*,\s*('(?:[^']|'')*')\s*\)", re.I
)


def _rewrite_listagg(sql: str) -> str:
    """LISTAGG(DISTINCT c, ', ') → array_join(collect_set(c), ', ') — the
    unordered-set semantics match Dremio LISTAGG without WITHIN GROUP
    (media_ai.sql:195; SURVEY §2.4 A13)."""

    def repl(m: re.Match) -> str:
        distinct, col, sep = m.group(1), m.group(2), m.group(3)
        collect = "collect_set" if distinct else "collect_list"
        return f"array_join({collect}({col.strip()}), {sep})"

    return _LISTAGG.sub(repl, sql)


# ----------------------------------------------------- quoted identifiers

_DQUOTED = re.compile(r'"([A-Za-z_][A-Za-z0-9_]*)"')


# ------------------------------------------------------- ARRAY constructor

def _rewrite_array_literals(sql: str) -> str:
    """Dremio ``ARRAY['a','b']`` -> Spark ``array('a','b')``
    (recipes.sql:7,18; logistics_AI.sql:197). Walks the lexer's tokens, so
    an ``ARRAY[`` inside a string literal, comment or quoted identifier is
    untouched, and so is struct field access ``col['f']`` (no ARRAY
    keyword). An unbalanced ``[`` is left for the SQL parser to report."""
    toks = tokens(sql)
    edits: dict[int, str] = {}
    for i, t in enumerate(toks):
        if t.kind != "word" or t.text.upper() != "ARRAY":
            continue
        j = i + 1
        while j < len(toks) and toks[j].kind == "ws":
            j += 1
        if j == len(toks) or toks[j].text != "[" or toks[j].kind != "op":
            continue
        close = next(
            (n for n in range(j + 1, len(toks))
             if toks[n].kind == "op" and toks[n].text in ")]"
             and toks[n].depth == toks[j].depth),
            None,
        )
        if close is not None:
            edits.update(dict.fromkeys(range(i, j + 1), ""))
            edits[i], edits[close] = "array(", ")"
    return "".join(edits.get(n, t.text) for n, t in enumerate(toks))


_ARRAY_TO_STRING = re.compile(r"\bARRAY_TO_STRING\s*\(", re.I)

# Dremio allows bare VARCHAR in CAST (logistics_AI.sql:195); Spark requires
# a length, so bare VARCHAR becomes STRING (VARCHAR(n) passes through).
_BARE_VARCHAR = re.compile(r"\bVARCHAR\b(?!\s*\()", re.I)


# ------------------------------------------------------------- FOLDER DDL

_FOLDER = re.compile(r"\bCREATE\s+FOLDER\b", re.I)

# metadata TVFs: TABLE(table_snapshot('ns.t')) / TABLE(table_history('ns.t'))
# (readme.md:360-370; files/partitions are the engine's Iceberg-parity
# extension) -> the `<leaf>__snapshots` / `__history` / `__files` /
# `__partitions` views that Lakehouse.run_script registers per table.
_META_TVF = re.compile(
    r"TABLE\s*\(\s*table_(snapshot|history|delete_files|files|partitions|refs)"
    r"\s*\(\s*'([\w.]+)'\s*\)\s*\)",
    re.I,
)

# TABLE(LIST_FILES('@src/path' | '/path')) (ai_generate.sql:19-21) -> a
# binaryFile-backed temp view registered on the fly by run().
_LIST_FILES = re.compile(r"TABLE\s*\(\s*LIST_FILES\s*\(\s*'([^']+)'\s*\)\s*\)", re.I)


def _rewrite_meta_tvfs(sql: str) -> str:
    def repl(m: re.Match) -> str:
        kind, name = m.group(1).lower(), m.group(2)
        leaf = name.split(".")[-1]
        suffix = {"snapshot": "snapshots"}.get(kind, kind)
        return f"{leaf}__{suffix}"

    return _META_TVF.sub(repl, sql)


# ------------------------------------------------------------- QUALIFY
# Dremio (like DuckDB/Snowflake/BigQuery) filters on window results with
# QUALIFY; Spark has no such clause. Rewrite:
#   SELECT ... QUALIFY <pred> [ORDER BY/LIMIT tail]
# -> alias predicate:  SELECT * FROM (SELECT ...) __q WHERE <pred> tail
# -> windowed predicate (contains OVER): the window expr is injected into
#    the select list as __qualify__ and stripped back out with * EXCEPT,
#    because a window function cannot appear in WHERE:
#      SELECT * EXCEPT (__qualify__) FROM
#        (SELECT ..., (<pred>) AS __qualify__ FROM ...) __q
#      WHERE __qualify__ tail
# Top-level QUALIFY only (subquery QUALIFYs would need a recursive paren
# walk; none of the reference scripts use the clause at all).

_SET_OPS = tuple(
    f"{op} {q}".strip()
    for op in ("UNION", "INTERSECT", "EXCEPT")
    for q in ("ALL", "DISTINCT", "")
)


def _has_word(sql: str, word: str) -> bool:
    return any(t.kind == "word" and t.text.upper() == word for t in tokens(sql))


def _set_op(sql: str, start: int = 0):
    """Span of the first depth-0 set operator at or after ``start``; the
    ``EXCEPT`` of ``SELECT * EXCEPT (cols)`` is a column list, not one."""
    while (hit := find_top(sql, _SET_OPS, start)) is not None:
        if not sql[: hit[0]].rstrip().endswith("*"):
            return hit
        start = hit[1]
    return None


class UnsupportedDialectFormError(ValueError):
    """A dialect construct the translator recognizes but cannot rewrite in
    this statement shape. Raised instead of emitting malformed SQL."""


def _rewrite_qualify(sql: str) -> str:
    if not _has_word(sql, "QUALIFY"):
        return sql
    if _set_op(sql) is not None:
        # Each branch of a set operation sits at paren depth 0, so the
        # single-statement rewrite would wrap everything before the first
        # QUALIFY and treat the rest of the statement as the predicate;
        # a parenthesized branch hides its QUALIFY at depth > 0. Split at
        # every top-level set operator and rewrite each branch
        # independently (a branch is then a single SELECT, paren-stripped,
        # rewritten recursively, re-wrapped); untouched branches pass
        # through verbatim. A trailing ORDER BY/LIMIT on the LAST branch
        # stays top-level after its rewrite, so it still binds the whole
        # set operation, as in the original.
        return _rewrite_qualify_per_branch(sql)
    q = find_top(sql, ("QUALIFY",))
    if q is None:
        return sql  # only subquery QUALIFYs (see above)
    head = sql[: q[0]].rstrip()
    rest = sql[q[1] :]
    t = find_top(rest, ("ORDER BY", "LIMIT", "OFFSET"))
    pred = (rest if t is None else rest[: t[0]]).strip()
    tail = "" if t is None else " " + rest[t[0] :].strip()
    if not _has_word(pred, "OVER"):
        return f"SELECT * FROM ({head}) __q WHERE {pred}{tail}"
    f = find_top(head, ("FROM",))
    if f is None:
        return sql
    inner = f"{head[: f[0]].rstrip()}, ({pred}) AS __qualify__ {head[f[0]:]}"
    return (
        f"SELECT * EXCEPT (__qualify__) FROM ({inner}) __q WHERE __qualify__{tail}"
    )


def _branch_rewrite(branch: str) -> str:
    """QUALIFY-rewrite one set-operation branch; a fully parenthesized
    branch is rewritten inside its parens (re-wrapped afterwards)."""
    b = branch.strip()
    inner = strip_parens(b)
    if inner != b:
        return f"({_rewrite_qualify(inner)})"
    return _rewrite_qualify(b)


def _rewrite_qualify_per_branch(sql: str) -> str:
    """Split a top-level set operation into branches and QUALIFY-rewrite
    each independently, preserving the operators (and their ALL/DISTINCT
    qualifiers) between them."""
    out: list[str] = []
    pos = 0
    while (hit := _set_op(sql, pos)) is not None:
        out.append(_branch_rewrite(sql[pos : hit[0]]))
        out.append(" ".join(sql[hit[0] : hit[1]].upper().split()))
        pos = hit[1]
    out.append(_branch_rewrite(sql[pos:]))
    return " ".join(out)


def translate(sql: str) -> str:
    """Translate one Dremio-dialect statement to Spark SQL."""

    def code(c: str) -> str:
        c = _FOLDER.sub("CREATE NAMESPACE", c)
        c = _DQUOTED.sub(r"`\1`", c)
        c = _ARRAY_TO_STRING.sub("array_join(", c)
        c = _BARE_VARCHAR.sub("STRING", c)
        return c

    # Identifier/DDL rewrites are region-scoped (never touch string
    # literals); the function-call rewrites must see the whole call
    # including its quoted format/separator argument, and are anchored on
    # the function names so literals stay safe.
    out = map_code_regions(sql, code)
    out = _rewrite_array_literals(out)
    out = _rewrite_to_fn(out)
    out = _rewrite_listagg(out)
    out = _rewrite_meta_tvfs(out)
    out = _rewrite_qualify(out)
    return out


def split_statements(sql: str) -> list[str]:
    """Split a script into statements at depth-0 ';'. Semicolons inside
    string literals, quoted identifiers and comments do not split, and
    comment text is stripped from the output (a quote or ';' inside a
    comment must not confuse later stages — reference scripts open with
    comment banners, finance_example.sql:1-3)."""
    bare = "".join(
        ("" if t.text.startswith("--") else " ") if t.kind == "com" else t.text
        for t in tokens(sql)
    )
    return split_top(bare, ";")


def rewrite_list_files(spark, st: str, resolve_path=None) -> str:
    """Replace each ``TABLE(LIST_FILES('p'))`` with a registered binaryFile
    temp view over ``p``. ``resolve_path`` maps Dremio external-source
    handles ('@s3/dir') to local paths — the ScriptRunner passes its
    source_roots resolver; without one, '@h/rest' falls back to '/rest'
    (absolute-path handles)."""
    for m in set(_LIST_FILES.findall(st)):
        from pyspark.sql import functions as F

        from .sources import list_files

        view = "files_" + re.sub(r"\W", "_", m).strip("_")
        if resolve_path is not None:
            path = resolve_path(m)
        else:
            path = m.split("/", 1)[1] if m.startswith("@") else m
            if m.startswith("@") and "/" in m:
                path = "/" + path
        df = list_files(spark, path)
        # Dremio LIST_FILES rows expose a `file` handle struct accessed as
        # file['path'] and passed whole to AI_GENERATE (ai_generate.sql:7-21)
        df = df.withColumn(
            "file", F.struct("path", "modification_time", "length", "content")
        )
        df.createOrReplaceTempView(view)
        st = _LIST_FILES.sub(
            lambda mm, v=view, orig=m: v if mm.group(1) == orig else mm.group(0), st
        )
    return st


def prepare_statement(spark, st: str, resolve_path=None) -> str:
    """One statement, Dremio dialect → executable Spark SQL: LIST_FILES
    rewrite, AI UDF registration + call-site rewrites, dialect translation.
    The returned text is what ``spark.sql`` runs (the result cache keys on
    it, so two spellings that prepare identically share a cache entry)."""
    st = rewrite_list_files(spark, st, resolve_path)
    # AI functions from SQL: AI_CLASSIFY/AI_COMPLETE are named UDFs;
    # AI_GENERATE(... WITH SCHEMA ROW(...)) registers a per-schema
    # struct UDF and rewrites the call site (functions/ai.py).
    from .functions import ai as _ai

    _ai.register_sql_udfs(spark)
    st = translate(st)
    return _ai.rewrite_ai_generate(spark, st)


def run(spark, sql: str, resolve_path=None):
    """Translate + execute. For scripts: split statements (comment-aware)
    and run each; returns the last result DataFrame."""
    result = None
    for st in split_statements(sql):
        result = spark.sql(prepare_statement(spark, st, resolve_path))
    return result
