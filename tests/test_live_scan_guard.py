"""Live files become a DataFrame in one place,
``snapshot.scan_live_files``: it alone fills partition columns, applies
deletion vectors and resolves row ids.  An AST scan of
``guidewire_spark/sources/`` and ``guidewire_spark/operators/`` keeps
private copies from growing back (a read that skipped vectors or
partition columns returned dead rows or dropped columns, and a match
pass keyed by ``input_file_name()`` found no files once the vector
anti-join shuffled).  Bloom's sidecar build indexes files and scans
them directly."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "guidewire_spark"
SCANNED = ("sources", "operators")
# guarded callee → the (module, top-level definition) pairs allowed to
# call it; an empty set bans the callee outright
_SCANNERS = {
    ("sources/snapshot.py", "scan_live_files"),
    ("sources/bloom.py", "reindex_bloom"),
}
HOMES = {
    "scan_with_row_index": _SCANNERS,
    "subtract_dead_rows": _SCANNERS,
    "read_files_with_schema": _SCANNERS,
    "input_file_name": set(),
}


def _guarded_calls(source: str, module: str) -> list[tuple[str, str, str, int]]:
    """(callee, module, enclosing top-level definition, line) for every
    call of a guarded name, bare or as an attribute
    (``dv.scan_with_row_index``)."""
    out = []
    for top in ast.parse(source).body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = getattr(fn, "id", None) or getattr(fn, "attr", None)
            if name in HOMES:
                out.append((name, module, owner, node.lineno))
    return sorted(out, key=lambda call: call[3])


def _offenders(calls) -> list[str]:
    return [
        f"{name} in {module}::{owner} (line {line})"
        for name, module, owner, line in calls
        if (module, owner) not in HOMES[name]
    ]


def test_detector_flags_a_hand_built_reader():
    src = (
        "from pyspark.sql import functions as F\n"
        "from guidewire_spark.sources import dv\n"
        "def scan_live_files(spark, snap, paths):\n"
        "    return dv.subtract_dead_rows(\n"
        "        dv.scan_with_row_index(spark, None, paths), spark, {})\n"
        "def _read_with_partitions(spark, snap, paths):\n"
        "    df = read_files_with_schema(spark, snap.schema, paths)\n"
        "    return df.withColumn('f', F.input_file_name())\n"
        "x = read_files_with_schema\n"
    )
    calls = _guarded_calls(src, "sources/snapshot.py")
    assert calls == [
        ("subtract_dead_rows", "sources/snapshot.py", "scan_live_files", 4),
        ("scan_with_row_index", "sources/snapshot.py", "scan_live_files", 5),
        ("read_files_with_schema", "sources/snapshot.py", "_read_with_partitions", 7),
        ("input_file_name", "sources/snapshot.py", "_read_with_partitions", 8),
    ]
    assert _offenders(calls) == [
        "read_files_with_schema in sources/snapshot.py::_read_with_partitions (line 7)",
        "input_file_name in sources/snapshot.py::_read_with_partitions (line 8)",
    ]
    # the same reader outside its home module is an offender too
    assert len(_offenders(_guarded_calls(src, "sources/writer.py"))) == 4


def test_live_files_are_read_only_through_scan_live_files():
    calls = []
    for sub in SCANNED:
        for path in sorted((PACKAGE / sub).glob("*.py")):
            module = path.relative_to(PACKAGE).as_posix()
            calls += _guarded_calls(path.read_text(encoding="utf-8"), module)
    assert _offenders(calls) == []
    # every home still calls what it is allowed to: a guard whose
    # homes went quiet would pass on a renamed reader
    assert {(m, o) for name, m, o, _ in calls} == _SCANNERS
