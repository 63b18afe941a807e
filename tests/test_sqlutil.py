"""The shared column expressions in khose_spark.sqlutil have one home."""

from __future__ import annotations

import ast
import glob
import inspect
import os
import re

from khose_spark import sqlutil


def _is_cents_form(node: ast.AST) -> bool:
    """``(<x>.cast("decimal(18,2)") * 100).cast("long")``."""
    if not (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and [ast.dump(a) for a in node.args] == [ast.dump(ast.Constant("long"))]
    ):
        return False
    prod = node.func.value
    if not (
        isinstance(prod, ast.BinOp)
        and isinstance(prod.op, ast.Mult)
        and isinstance(prod.right, ast.Constant)
        and prod.right.value == 100
    ):
        return False
    money = prod.left
    return (
        isinstance(money, ast.Call)
        and isinstance(money.func, ast.Attribute)
        and money.func.attr == "cast"
        and len(money.args) == 1
        and isinstance(money.args[0], ast.Constant)
        and money.args[0].value == "decimal(18,2)"
    )


def test_only_sqlutil_cents_builds_cents():
    """Money to integer cents is ``sqlutil.cents(col)``. An inline copy
    of its Column form anywhere else in khose_spark is a second home
    for the expression that every exact cents sum depends on."""
    lines, start = inspect.getsourcelines(sqlutil.cents)
    helper = range(start, start + len(lines))
    pkg = os.path.dirname(os.path.abspath(sqlutil.__file__))
    refs = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if _is_cents_form(node):
                refs.append((os.path.relpath(path, pkg), node.lineno))
    outside = [r for r in refs if r[0] != "sqlutil.py" or r[1] not in helper]
    assert not outside, f"call sqlutil.cents instead at {outside}"
    assert len(refs) == 1, refs


_SQL_CENTS_FORM = re.compile(
    r"CAST\(\s*CAST\(\s*[\w.]+\s+AS\s+DECIMAL\(18,\s*2\)\s*\)"
    r"\s*\*\s*100\s+AS\s+BIGINT\s*\)"
)


def test_only_sqlutil_sql_cents_writes_sql_cents():
    """Money to integer cents in SQL text, oracle or ``F.expr``, is
    ``sqlutil.sql_cents(expr)``. A string constant anywhere else in
    khose_spark that spells the law out is a second home for it."""
    pkg = os.path.dirname(os.path.abspath(sqlutil.__file__))
    refs = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg)
        if rel == "sqlutil.py":
            continue
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and _SQL_CENTS_FORM.search(node.value)
            ):
                refs.append((rel, node.lineno))
    assert not refs, f"call sqlutil.sql_cents instead at {refs}"
    assert sqlutil.sql_cents("value") == (
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)"
    )
