"""No silent broad exception handlers in the engine: a handler of
``Exception``, ``BaseException`` or a bare ``except`` whose body is
only ``pass`` hides failures. Catch the specific error, or handle it."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "guidewire_spark"
BROAD = {"Exception", "BaseException"}


def _names(node: ast.expr | None) -> set[str]:
    if node is None:
        return {"<bare>"}
    if isinstance(node, ast.Tuple):
        return set().union(*(_names(e) for e in node.elts))
    if isinstance(node, ast.Name):
        return {node.id}
    if isinstance(node, ast.Attribute):
        return {node.attr}
    return set()


def _silent_broad_handlers(source: str, filename: str) -> list[int]:
    lines = []
    for node in ast.walk(ast.parse(source, filename)):
        if not isinstance(node, ast.ExceptHandler):
            continue
        broad = node.type is None or _names(node.type) & BROAD
        if broad and all(isinstance(s, ast.Pass) for s in node.body):
            lines.append(node.lineno)
    return lines


def test_detector_flags_only_silent_broad_handlers():
    src = (
        "try:\n    f()\nexcept Exception:\n    pass\n"
        "try:\n    f()\nexcept:\n    pass\n"
        "try:\n    f()\nexcept (ValueError, BaseException):\n    pass\n"
        "try:\n    f()\nexcept ValueError:\n    pass\n"
        "try:\n    f()\nexcept Exception:\n    x = None\n"
    )
    assert _silent_broad_handlers(src, "<probe>") == [3, 7, 11]


def test_no_silent_broad_except_in_engine():
    offenders = [
        f"{path.relative_to(PACKAGE.parent)}:{line}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for line in _silent_broad_handlers(path.read_text(encoding="utf-8"), str(path))
    ]
    assert offenders == []
