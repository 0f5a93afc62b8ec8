"""Every data file a writer operation writes becomes an ``add`` action
through one function, ``writer._new_file_adds``: it alone reads the
stats spec off the snapshot, recovers hive partition values and assigns
row-tracking base ids.  Every file that is already live is re-recorded
through ``writer._live_add``, which copies its record (deletion vector
and ``baseRowId`` included).  Every commit in the package goes through
``deltalog.commit``: it alone builds the ``commitInfo`` (metrics derived
from the commit's actions) and calls ``commit_transaction`` or
``write_commit``, and every commit file is read back through
``snapshot._read_commit``.  AST scans keep hand-built copies from
growing back (a copy that skips one of these fields is how identity
appends once committed files without ``baseRowId``, how clones once
resurrected deleted rows, how commits once reported file counts that
were not theirs, and how a materialized view once split its rows and
its base-version pin over two commits)."""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "guidewire_spark"
WRITER = "sources/writer.py"
DELTALOG = "sources/deltalog.py"
# guarded callee → the (module, top-level definition) pairs allowed to
# call it.  The add-building rules cover writer.py; the commit rules
# cover every module of the package.
ADD_HOMES = {
    "stats_spec": {(WRITER, "_new_file_adds")},
    "_assign_base_row_ids": {(WRITER, "_new_file_adds")},
    "_partition_values": {(WRITER, "_new_file_adds")},
    "add_action": {(WRITER, "_new_file_adds"), (WRITER, "_live_add")},
}
COMMIT_HOMES = {
    "commit_info_action": {(DELTALOG, "commit")},
    "commit_transaction": {(DELTALOG, "commit")},
    "write_commit": {(DELTALOG, "commit"), (DELTALOG, "commit_transaction")},
}


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        yield path.relative_to(PACKAGE).as_posix(), path.read_text(encoding="utf-8")


def _guarded_calls(source: str, module: str, homes) -> list[tuple[str, str, str, int]]:
    """(callee, module, enclosing top-level definition, line) for every
    call of a name in ``homes``, bare or as an attribute
    (``stats.stats_spec``)."""
    out = []
    for top in ast.parse(source).body:
        owner = getattr(top, "name", "<module>")
        for node in ast.walk(top):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            name = getattr(fn, "id", None) or getattr(fn, "attr", None)
            if name in homes:
                out.append((name, module, owner, node.lineno))
    return sorted(out, key=lambda call: call[3])


def _offenders(calls, homes) -> list[str]:
    return [
        f"{name} in {module}::{owner} (line {line})"
        for name, module, owner, line in calls
        if (module, owner) not in homes[name]
    ]


def _names_commit_file(node) -> bool:
    """An f-string ending in ``{<version>:020d}.json`` — a commit file."""
    if not isinstance(node, ast.JoinedStr) or len(node.values) < 2:
        return False
    *_, fmt, tail = node.values
    return (
        isinstance(tail, ast.Constant)
        and tail.value == ".json"
        and isinstance(fmt, ast.FormattedValue)
        and fmt.format_spec is not None
        and any(
            isinstance(v, ast.Constant) and v.value == "020d"
            for v in fmt.format_spec.values
        )
    )


def _opens_for_reading(node) -> bool:
    """``open(...)`` / ``fs.open(...)`` without a write mode (``os.open``
    takes flags and is not a read here)."""
    if not isinstance(node, ast.Call):
        return False
    fn = node.func
    if isinstance(fn, ast.Attribute):
        if fn.attr != "open" or getattr(fn.value, "id", None) == "os":
            return False
    elif getattr(fn, "id", None) != "open":
        return False
    mode = node.args[1] if len(node.args) > 1 else next(
        (k.value for k in node.keywords if k.arg == "mode"), None
    )
    if mode is None:
        return True
    return not isinstance(mode, ast.Constant) or "r" in mode.value


def _commit_file_readers(source: str, module: str) -> list[str]:
    """``module::definition`` for every top-level definition that names
    a commit file and opens a file for reading."""
    out = []
    for top in ast.parse(source).body:
        nodes = list(ast.walk(top))
        if any(map(_names_commit_file, nodes)) and any(map(_opens_for_reading, nodes)):
            out.append(f"{module}::{getattr(top, 'name', '<module>')}")
    return out


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
    calls = _guarded_calls(src, WRITER, ADD_HOMES)
    assert calls == [
        ("stats_spec", WRITER, "_new_file_adds", 3),
        ("stats_spec", WRITER, "merge", 6),
        ("_assign_base_row_ids", WRITER, "merge", 7),
        ("_partition_values", WRITER, "<module>", 8),
        ("add_action", WRITER, "shallow_clone", 11),
    ]
    assert _offenders(calls, ADD_HOMES) == [
        f"stats_spec in {WRITER}::merge (line 6)",
        f"_assign_base_row_ids in {WRITER}::merge (line 7)",
        f"_partition_values in {WRITER}::<module> (line 8)",
        f"add_action in {WRITER}::shallow_clone (line 11)",
    ]
    # a commit tail outside deltalog.commit is an offender, also when
    # the enclosing definition happens to be called ``commit``
    src = (
        "def commit(snap, actions):\n"
        "    return write_commit(snap, actions=actions)\n"
        "def save(base, actions):\n"
        "    actions.append(deltalog.commit_info_action('WRITE', 'Append', actions))\n"
    )
    assert _offenders(_guarded_calls(src, DELTALOG, COMMIT_HOMES), COMMIT_HOMES) == [
        f"commit_info_action in {DELTALOG}::save (line 4)",
    ]
    assert _offenders(
        _guarded_calls(src, "sources/matview.py", COMMIT_HOMES), COMMIT_HOMES
    ) == [
        "write_commit in sources/matview.py::commit (line 2)",
        "commit_info_action in sources/matview.py::save (line 4)",
    ]


def test_detector_finds_commit_file_readers():
    src = (
        "import os\n"
        "def history(t, v):\n"
        "    path = os.path.join(t, '_delta_log', f'{v:020d}.json')\n"
        "    with open(path, encoding='utf-8') as f:\n"
        "        return f.read()\n"
        "def expire(log, v):\n"
        "    os.remove(os.path.join(log, f'{v:020d}.json'))\n"
        "def write(target, v):\n"
        "    fd = os.open(f'{v:020d}.json', os.O_CREAT | os.O_EXCL)\n"
        "def crc(log, v):\n"
        "    with fs.open(os.path.join(log, f'{v:020d}.crc'), 'rb') as f:\n"
        "        return f.read()\n"
        "def manifest(p):\n"
        "    with open(p, 'w') as fh:\n"
        "        fh.write(f'{1:020d}.json')\n"
    )
    assert _commit_file_readers(src, WRITER) == [f"{WRITER}::history"]


def test_writer_builds_new_file_adds_in_one_place():
    source = (PACKAGE / WRITER).read_text(encoding="utf-8")
    calls = _guarded_calls(source, WRITER, ADD_HOMES)
    assert _offenders(calls, ADD_HOMES) == []
    # exactly one call site per guarded callee in each of its homes
    assert sorted((name, module, owner) for name, module, owner, _ in calls) == sorted(
        (name, *home) for name, homes in ADD_HOMES.items() for home in homes
    )


def test_every_commit_goes_through_deltalog_commit():
    calls = [
        call
        for module, source in _modules()
        for call in _guarded_calls(source, module, COMMIT_HOMES)
    ]
    assert _offenders(calls, COMMIT_HOMES) == []
    assert sorted((name, module, owner) for name, module, owner, _ in calls) == sorted(
        (name, *home) for name, homes in COMMIT_HOMES.items() for home in homes
    )


def test_only_snapshot_reads_commit_files():
    readers = [
        reader
        for module, source in _modules()
        for reader in _commit_file_readers(source, module)
    ]
    assert readers == ["sources/snapshot.py::_read_commit"]
