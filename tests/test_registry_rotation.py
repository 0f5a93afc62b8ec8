"""The computed driver-window rotation: failed or errored
CORRECTNESS entries must NOT count as driver-checked (they re-front
automatically after a fix), and the window fronts the
zero-green-history backlog, up to _WINDOW queries, plan-dependent
families first."""

from __future__ import annotations

import glob
import json
import os

from guidewire_spark.registry import (
    _WINDOW,
    _driver_checked_names,
    _entry_passed,
    all_queries,
    driver_window_order,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_entry_passed_semantics():
    assert _entry_passed({"err": None, "rows_match": True, "hash_match": True})
    assert _entry_passed({"err": None, "rows_match": True})  # rows-only
    assert not _entry_passed({"err": "boom"})
    assert not _entry_passed({"err": None, "rows_match": False})
    assert not _entry_passed(
        {"err": None, "rows_match": True, "hash_match": False}
    )
    # absent comparison keys (weaker driver record shapes) still pass
    assert _entry_passed({"err": None})
    # the driver's CLEAN rows-only record: err='no_oracle' + row count
    assert _entry_passed({"err": "no_oracle", "spark_rows": 25})
    assert not _entry_passed({"err": "no_oracle", "spark_rows": None})


def test_checked_names_match_committed_green_history():
    want = set()
    latest: dict[str, tuple[int, dict]] = {}
    for p in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int("".join(c for c in os.path.basename(p) if c.isdigit()))
        with open(p) as fh:
            for k, v in json.load(fh).items():
                if k not in latest or rnd >= latest[k][0]:
                    latest[k] = (rnd, v)
    want = {k for k, (_, v) in latest.items() if _entry_passed(v)}
    assert _driver_checked_names() == want


def _assert_window_order() -> list[str]:
    """Check driver_window_order() against the committed history;
    returns the effective backlog."""
    from guidewire_spark.registry import _driver_history

    registry = all_queries()
    history = _driver_history()
    checked = _driver_checked_names()
    ordered = list(driver_window_order())
    assert set(ordered) == set(registry)
    # effective backlog = never-green PLUS oracle-upgraded rows-only
    # greens (a rows-only pass proves the query ran, not that its
    # values hash-match — adding an oracle re-fronts it, round 9)
    backlog = [
        n
        for n in registry
        if n not in checked
        or (history.get(n, (False, False))[1] and registry[n].oracle)
    ]
    # the window is backlog-only and as full as the backlog allows: a
    # backlog shorter than _WINDOW is fronted whole (already-checked
    # queries fill the remaining slots)
    front = ordered[: min(_WINDOW, len(backlog))]
    if len(backlog) <= _WINDOW:
        assert set(front) == set(backlog)
    else:
        assert set(front) <= set(backlog)
    # class order inside the window: failed-then-fixed rows lead
    # unconditionally (a red must never be crowded out by new
    # registrations), then plan-dependent families, then value-only
    # (the r9 judge-ordered pins were dropped once CORRECTNESS_r10
    # recorded them green, per that verdict's own drop condition)
    def klass(n: str) -> int:
        if history.get(n, (True, False))[0] is False:
            return 0
        return (
            1
            if n.startswith(
                ("stream_", "join_", "delta_", "cda_", "udtf_", "udaf_", "udf_")
            )
            else 2
        )

    classes = [klass(n) for n in front]
    assert classes == sorted(classes), (
        f"window class order broken: {list(zip(front, classes))}"
    )
    # every currently-red row re-verifies inside the window
    red = [n for n in registry if history.get(n, (True, False))[0] is False]
    assert set(red) <= set(front[: len(red)])
    return backlog


def test_window_is_zero_history_failed_then_plan_dependent_first():
    _assert_window_order()


def test_window_with_empty_backlog_is_registration_order(monkeypatch):
    import guidewire_spark.registry as reg

    names = list(all_queries())
    monkeypatch.setattr(
        reg, "_driver_history", lambda: {n: (True, False) for n in names}
    )
    assert _assert_window_order() == []
    assert list(driver_window_order()) == names
