"""The one SQL lexer (``dialect.tokens`` and its helpers) and the statements
it makes work: each reader of SQL text — statement splits, QUALIFY, MERGE
WHEN clauses, DDL column lists, pruning conjuncts, reflection-routing
predicates, AI_GENERATE calls — cuts text through it, so a quote, a
comment or a ``CASE … END`` means the same thing everywhere."""

from __future__ import annotations

import ast
import os

import pytest
from pyspark.sql import types as T

from apache_iceberg_lakehouse_workshop_spark import dialect
from apache_iceberg_lakehouse_workshop_spark.plans import Lakehouse
from apache_iceberg_lakehouse_workshop_spark.plans.lakeshim import LakeTable
from apache_iceberg_lakehouse_workshop_spark.plans.script import ScriptRunner

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "apache_iceberg_lakehouse_workshop_spark",
)

# (rule, helper call, expected) — one case per lexing rule
_CASES = [
    (
        "'' escapes stay inside the literal",
        lambda: dialect.split_top("a = 'it''s, (x', b", ","),
        ["a = 'it''s, (x'", "b"],
    ),
    (
        "double-quoted identifiers are not keywords",
        lambda: dialect.find_top('SELECT "QUALIFY" FROM t', ("QUALIFY",)),
        None,
    ),
    (
        "backquoted identifiers hide separators",
        lambda: dialect.split_top("`a,b` INT, `c)` INT", ","),
        ["`a,b` INT", "`c)` INT"],
    ),
    (
        "comments hide separators and quotes",
        lambda: dialect.split_top("a -- x, 'y\n, b /* c, ' */", ","),
        ["a -- x, 'y", "b /* c, ' */"],
    ),
    (
        "statements split outside comments and literals",
        lambda: dialect.split_statements("SELECT ';' /* ; */; -- ;\nSELECT 2"),
        ["SELECT ';'", "SELECT 2"],
    ),
    (
        "nested ( and [ open levels",
        lambda: dialect.split_top("f(a, g(b, c)), x[1, y[2]], d", ","),
        ["f(a, g(b, c))", "x[1, y[2]]", "d"],
    ),
    (
        "matching close skips quoted brackets",
        lambda: dialect.matching_close("ARRAY[']', x[2]] + 1", 5),
        15,
    ),
    (
        "CASE … END holds its WHEN",
        lambda: dialect.split_top(
            "WHEN MATCHED THEN UPDATE SET a = CASE WHEN x THEN 1 END "
            "WHEN NOT MATCHED THEN INSERT *",
            "WHEN",
        ),
        ["MATCHED THEN UPDATE SET a = CASE WHEN x THEN 1 END",
         "NOT MATCHED THEN INSERT *"],
    ),
    (
        "CASE … END holds its AND and OR",
        lambda: dialect.split_top(
            "CASE WHEN a AND b OR c THEN 1 END = 1 AND d OR e", "AND"
        ),
        ["CASE WHEN a AND b OR c THEN 1 END = 1", "d OR e"],
    ),
    (
        "BETWEEN keeps its AND",
        lambda: dialect.split_top("x BETWEEN 1 AND 5 AND y = 2", "AND"),
        ["x BETWEEN 1 AND 5", "y = 2"],
    ),
    (
        "a word after . is an identifier",
        lambda: dialect.split_top("t.and = 1 AND s.case = 2 AND u.end = 3", "AND"),
        ["t.and = 1", "s.case = 2", "u.end = 3"],
    ),
    (
        "two-word keywords match across blanks",
        lambda: dialect.find_top("SELECT (a ORDER BY b) FROM t ORDER\n BY c", ("ORDER BY",)),
        (29, 38),
    ),
    (
        "outer parens strip only when they wrap everything",
        lambda: [dialect.strip_parens(s) for s in ("((a = 1))", "(a) OR (b)", "(s = ')(')")],
        ["a = 1", "(a) OR (b)", "s = ')('"],
    ),
    (
        "ARRAY[ inside a string literal is text",
        lambda: dialect.translate("SELECT 'ARRAY[1]' AS s"),
        "SELECT 'ARRAY[1]' AS s",
    ),
    (
        "ARRAY[ in code is rewritten beside a literal that holds one",
        lambda: dialect.translate("SELECT ARRAY['x]', 'ARRAY[2]'] AS a, 'ARRAY[3]' AS s"),
        "SELECT array('x]', 'ARRAY[2]') AS a, 'ARRAY[3]' AS s",
    ),
    (
        "ARRAY[ inside a comment is text",
        lambda: dialect.translate("SELECT array [1, ARRAY[2]][1] -- ARRAY[9]"),
        "SELECT array(1, array(2))[1] -- ARRAY[9]",
    ),
]


@pytest.mark.parametrize("rule,call,want", _CASES, ids=[c[0] for c in _CASES])
def test_lexer_rule(rule, call, want):
    assert call() == want


@pytest.fixture()
def lake(spark, tmp_path):
    return Lakehouse(spark, str(tmp_path / "warehouse"))


def test_merge_set_with_case_when(lake, spark):
    """A MERGE whose SET holds a CASE WHEN: the WHEN clauses split outside
    the CASE."""
    t = lake.create_table("db.tgt", "k INT, amt DOUBLE")
    t.append(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k INT, amt DOUBLE"))
    s = lake.create_table("db.src", "k INT, amt DOUBLE")
    s.append(spark.createDataFrame([(1, -5.0), (2, 7.0), (3, 9.0)], "k INT, amt DOUBLE"))
    ScriptRunner(lake).run(
        "MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k "
        "WHEN MATCHED THEN UPDATE SET amt = CASE WHEN s.amt > 0 THEN s.amt "
        "ELSE 0 END WHEN NOT MATCHED THEN INSERT *"
    )
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, 0.0), (2, 7.0), (3, 9.0)
    ]


def test_merge_on_with_case_when(lake, spark):
    """The ON condition ends at the first depth-0 WHEN, not at a CASE's."""
    t = lake.create_table("db.tgt", "k INT, amt DOUBLE")
    t.append(spark.createDataFrame([(1, 10.0), (2, 20.0)], "k INT, amt DOUBLE"))
    s = lake.create_table("db.src", "k INT, amt DOUBLE")
    s.append(spark.createDataFrame([(1, -5.0), (2, 7.0)], "k INT, amt DOUBLE"))
    ScriptRunner(lake).run(
        "MERGE INTO db.tgt AS t USING db.src AS s ON t.k = s.k AND "
        "CASE WHEN s.amt > 0 THEN true ELSE false END "
        "WHEN MATCHED THEN DELETE"
    )
    assert [tuple(r) for r in t.read().collect()] == [(1, 10.0)]


def test_qualify_beside_star_except(lake):
    """``SELECT * EXCEPT (cols)`` is a column list, not a set operation."""
    out = ScriptRunner(lake).run(
        "SELECT * EXCEPT (b) FROM (SELECT 1 AS a, 2 AS b UNION ALL "
        "SELECT 2, 3) QUALIFY ROW_NUMBER() OVER (ORDER BY a DESC) = 1"
    )
    assert out.columns == ["a"]
    assert [tuple(r) for r in out.collect()] == [(2,)]


def test_update_with_where_inside_a_literal(lake, spark):
    """UPDATE's SET ends at the depth-0 WHERE, not at one in a literal."""
    t = lake.create_table("db.u", "id INT, note STRING")
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id INT, note STRING"))
    ScriptRunner(lake).run("UPDATE db.u SET note = 'ship WHERE paid' WHERE id = 1")
    assert sorted(tuple(r) for r in t.read().collect()) == [
        (1, "ship WHERE paid"), (2, "b")
    ]


def test_create_table_comment_with_comma(lake):
    ScriptRunner(lake).run("CREATE TABLE db.c (a VARCHAR COMMENT 'x, y', b INT)")
    schema = lake.table("db.c").read().schema
    assert [(f.name, f.dataType) for f in schema.fields] == [
        ("a", T.StringType()), ("b", T.IntegerType())
    ]


def test_create_table_bare_varchar_not_null(lake, spark):
    runner = ScriptRunner(lake)
    runner.run(
        "CREATE TABLE db.c (a VARCHAR NOT NULL, b VARCHAR(10) COMMENT 'x, y', "
        "c INTEGER)"
    )
    runner.run("INSERT INTO db.c VALUES ('p', 'q', 3)")
    df = lake.table("db.c").read()
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        ("a", T.StringType()), ("b", T.StringType()), ("c", T.IntegerType())
    ]
    assert [tuple(r) for r in df.collect()] == [("p", "q", 3)]


def test_quoted_qualify_identifier_is_not_the_clause(lake):
    out = ScriptRunner(lake).run('SELECT "QUALIFY" FROM (SELECT 1 AS "QUALIFY")')
    assert out.columns == ["QUALIFY"]
    assert [tuple(r) for r in out.collect()] == [(1,)]


@pytest.mark.parametrize(
    "where,conj",
    [
        ("k IN ('a,b', 'c')", ("k", "in", ["a,b", "c"])),
        ("(s = ')(')", ("s", "=", ")(")),
        ("(k = ')' OR k = 'x,y')", ("k", "in", [")", "x,y"])),
    ],
)
def test_newly_parsed_conjuncts_prune_soundly(lake, spark, where, conj):
    """Conjuncts the lexer now parses for min/max skipping (a quoted comma
    in an IN list, a quoted paren inside wrapping parens) prune files and
    return exactly the rows of an unpruned read."""
    t = lake.create_table("db.p", "k STRING, s STRING")
    for rows in (
        [("a,b", ")("), ("a", "z")],
        [("c", "m"), ("d", "n")],
        [("x,y", ")("), ("zz", "q")],
        [("e", "f")],
    ):
        t.append(spark.createDataFrame(rows, "k STRING, s STRING"))
    assert conj in LakeTable._parse_prune_conjuncts(where)
    pruned = t.read(where=where)
    full = t.read().filter(where)
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, full.collect()))
    assert len(set(pruned.inputFiles())) < len(set(t.read().inputFiles()))


def _hand_scanners(path: str) -> list[str]:
    """Hand-written SQL scanners in one module: a paren-depth counter
    (``depth += 1`` / ``depth -= 1`` on a name containing 'depth', other
    than the grants' re-entrancy ``_acl_depth``), a quote walk
    (``x.find("'", ...)``), or a ``re.sub`` / ``re.split`` /
    ``re.findall`` whose pattern walks quotes (``'[^']*'``) or splits
    conjuncts (``\\s+AND\\s+``) — the lexer's ``map_code_regions`` and
    ``split_top(sql, "AND")`` do those without tripping on a quoted
    ``''``, a paren or a BETWEEN."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    hits = []
    for node in ast.walk(tree):
        if isinstance(node, ast.AugAssign) and isinstance(node.op, (ast.Add, ast.Sub)):
            tgt = node.target
            name = tgt.id if isinstance(tgt, ast.Name) else getattr(tgt, "attr", "")
            if "depth" in name and name != "_acl_depth":
                hits.append(f"{path}:{node.lineno}: {name} counter")
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in ("find", "index")
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and node.args[0].value in ("'", '"', "`")
        ):
            hits.append(f"{path}:{node.lineno}: quote walk")
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "re"
            and node.func.attr in ("sub", "split", "findall")
            and node.args
            and isinstance(node.args[0], ast.Constant)
            and isinstance(node.args[0].value, str)
            and (
                "'[^']*'" in node.args[0].value
                or "\\s+and\\s+" in node.args[0].value.lower()
            )
        ):
            hits.append(f"{path}:{node.lineno}: regex quote walk or AND split")
    return hits


def test_sql_text_is_read_only_through_the_lexer():
    hits = []
    for root, _dirs, files in os.walk(PKG):
        for name in files:
            if name.endswith(".py"):
                hits += _hand_scanners(os.path.join(root, name))
    assert hits == []
