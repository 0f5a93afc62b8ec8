"""``functions.rounding.stable_round`` is the one Spark-side DECIMAL-bridge
round: it rounds near-ties the way the DuckDB oracle does, and no other
module in the engine re-implements it (an AST scan, so copies cannot grow
back)."""

from __future__ import annotations

import ast
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

from guidewire_spark.functions.rounding import stable_round

PACKAGE = Path(__file__).resolve().parent.parent / "guidewire_spark"
HOME = PACKAGE / "functions" / "rounding.py"


def _is_cast(node: ast.AST, arg_ok) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "cast"
        and len(node.args) == 1
        and arg_ok(node.args[0])
    )


def _is_bridge(node: ast.AST) -> bool:
    """``round(<x>.cast(<prec>), <n>).cast("double")``, ``round`` bare or
    as an attribute (``F.round``); ``<prec>`` a ``"decimal(..."`` literal
    or a name, as in a helper's parameter."""
    if not _is_cast(node, lambda a: getattr(a, "value", None) == "double"):
        return False
    rnd = node.func.value
    if not (isinstance(rnd, ast.Call) and rnd.args):
        return False
    fn = rnd.func
    if not (
        (isinstance(fn, ast.Attribute) and fn.attr == "round")
        or (isinstance(fn, ast.Name) and fn.id == "round")
    ):
        return False
    return _is_cast(
        rnd.args[0],
        lambda a: not isinstance(a, ast.Constant)
        or (isinstance(a.value, str) and a.value.startswith("decimal(")),
    )


def _bridge_sites(source: str, filename: str) -> list[tuple[str, int]]:
    """Every function whose body returns the bridge (``def``) and every
    bridge chain written out inline (``inline``), by line."""
    tree = ast.parse(source, filename)
    sites, in_helper = [], set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            body = [s for s in node.body if not isinstance(s, ast.Expr)]
            if len(body) == 1 and isinstance(body[0], ast.Return):
                if _is_bridge(body[0].value):
                    in_helper.add(id(body[0].value))
                    sites.append(("def", node.lineno))
    for node in ast.walk(tree):
        if _is_bridge(node) and id(node) not in in_helper:
            sites.append(("inline", node.lineno))
    return sorted(sites, key=lambda s: s[1])


def test_detector_flags_helpers_and_inline_chains():
    src = (
        "def _r(col, dp, prec='decimal(24,10)'):\n"
        "    '''doc'''\n"
        "    return F.round(col.cast(prec), dp).cast('double')\n"
        "x = F.round(F.col('v').cast('decimal(24,8)'), 4).cast('double')\n"
        "y = F.round(\n    (a / b).cast('decimal(20,12)'),\n    6,\n).cast('double')\n"
        "z = F.round(F.col('v'), 2).cast('double')\n"
        "w = F.round(F.col('v').cast('decimal(18,2)'), 2)\n"
        "c = (F.col('v') * 100).cast('decimal(18,0)').cast('long')\n"
        "s = _r(F.col('v'), 4)\n"
    )
    assert _bridge_sites(src, "<probe>") == [("def", 1), ("inline", 4), ("inline", 5)]


def test_only_the_rounding_module_implements_the_bridge():
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{line} ({kind})"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != HOME
        for kind, line in _bridge_sites(path.read_text(encoding="utf-8"), str(path))
    ]
    assert offenders == []
    home = _bridge_sites(HOME.read_text(encoding="utf-8"), str(HOME))
    assert [kind for kind, _ in home] == ["def"]


def test_stable_round_rounds_near_ties_like_the_oracle(spark):
    v = 0.15 * 1.5
    assert v == 0.22499999999999998
    df = spark.range(1).select(
        F.round(F.lit(v), 2).alias("plain"),
        stable_round(F.lit(v), 2).alias("bridged"),
        stable_round(F.lit(v), 2, "decimal(24,1)").alias("coarse"),
        stable_round(F.lit(1.23456789), 4, "decimal(20,12)").alias("fine"),
    )
    assert all(
        isinstance(f.dataType, T.DoubleType) for f in df.schema.fields
    ), df.schema
    row = df.first()
    assert row.plain == 0.22  # the raw double rounds down in Spark
    assert row.bridged == 0.23  # as DuckDB's ROUND(0.22499999999999998, 2)
    # The DECIMAL cast happens before the round: a bridge scale below
    # dp rounds there (0.22499... -> 0.2 at scale 1).
    assert row.coarse == 0.2
    assert row.fine == 1.2346
