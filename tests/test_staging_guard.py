"""Every data file a writer operation writes becomes an ``add`` action
through one function, ``writer._new_file_adds``: it alone reads the
stats spec off the snapshot, recovers hive partition values and assigns
row-tracking base ids.  Every file that is already live is re-recorded
through ``writer._live_add``, which copies its record (deletion vector
and ``baseRowId`` included).  Every commit goes through
``writer._commit``: it alone builds the ``commitInfo`` (metrics derived
from the commit's actions) and calls ``write_commit`` or
``commit_transaction``.  An AST scan of ``sources/writer.py`` keeps
hand-built copies from growing back (a copy that skips one of these
fields is how identity appends once committed files without
``baseRowId``, how clones once resurrected deleted rows, and how
commits once reported file counts that were not theirs)."""

from __future__ import annotations

import ast
from pathlib import Path

WRITER = (
    Path(__file__).resolve().parent.parent
    / "guidewire_spark"
    / "sources"
    / "writer.py"
)
# guarded callee → the top-level definitions allowed to call it
HOMES = {
    "stats_spec": {"_new_file_adds"},
    "_assign_base_row_ids": {"_new_file_adds"},
    "_partition_values": {"_new_file_adds"},
    "add_action": {"_new_file_adds", "_live_add"},
    "write_commit": {"_commit"},
    "commit_transaction": {"_commit"},
    "commit_info_action": {"_commit"},
}


def _guarded_calls(source: str) -> list[tuple[str, str, int]]:
    """(callee, enclosing top-level definition, line) for every call of
    a guarded name, bare or as an attribute (``stats.stats_spec``)."""
    out = []
    for top in ast.parse(source).body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = getattr(fn, "id", None) or getattr(fn, "attr", None)
            if name in HOMES:
                out.append((name, owner, node.lineno))
    return sorted(out, key=lambda call: call[2])


def _offenders(calls) -> list[str]:
    return [
        f"{name} in {owner} (line {line})"
        for name, owner, line in calls
        if owner not in HOMES[name]
    ]


def test_detector_finds_calls_and_their_owner():
    src = (
        "from guidewire_spark.sources import stats\n"
        "def _new_file_adds(snap, files):\n"
        "    spec = stats_spec(snap.configuration)\n"
        "def merge(snap):\n"
        "    def inner():\n"
        "        return stats.stats_spec(snap.configuration)\n"
        "    ids, cfg = _assign_base_row_ids([], {})\n"
        "x = _partition_values('p', 'd', ['c'])\n"
        "y = stats_spec\n"
        "def shallow_clone(snap, now):\n"
        "    return [deltalog.add_action(p, 0, now) for p in snap.files]\n"
    )
    calls = _guarded_calls(src)
    assert calls == [
        ("stats_spec", "_new_file_adds", 3),
        ("stats_spec", "merge", 6),
        ("_assign_base_row_ids", "merge", 7),
        ("_partition_values", "<module>", 8),
        ("add_action", "shallow_clone", 11),
    ]
    assert _offenders(calls) == [
        "stats_spec in merge (line 6)",
        "_assign_base_row_ids in merge (line 7)",
        "_partition_values in <module> (line 8)",
        "add_action in shallow_clone (line 11)",
    ]


def test_writer_builds_new_file_adds_in_one_place():
    calls = _guarded_calls(WRITER.read_text(encoding="utf-8"))
    assert _offenders(calls) == []
    # exactly one call site per guarded callee in each of its homes
    assert sorted((name, owner) for name, owner, _ in calls) == sorted(
        (name, owner) for name, homes in HOMES.items() for owner in homes
    )
