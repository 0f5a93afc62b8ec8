"""Output checks.  Every check runs outside the timed interval, on the
output of the very call that was timed.

* Registry queries: the materialised pandas frame is compared with the
  query's DuckDB oracle over the same parquet files, under the same
  canon the repo's oracle sweep uses (``tools/check_oracles.py``):
  row count, column names, then an order-insensitive hash of the
  canonical string frame.
* CDA sync: after each round, per changed table, the Delta log and the
  read-back are compared with what the staged files hold.
"""

from __future__ import annotations

import json
import os
import re

import duckdb

from check_oracles import TABLES, canon_frame, frame_hash


class OracleChecker:
    """DuckDB views over one generated table directory."""

    def __init__(self, sf_dir: str) -> None:
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        self._expected: dict[str, tuple[int, list[str], str]] = {}

    def expected(self, name: str, oracle_sql: str) -> tuple[int, list[str], str]:
        """(rows, sorted columns, value hash) of the oracle; cached, since
        the inputs do not change during a run."""
        if name not in self._expected:
            frame = self.con.execute(oracle_sql).df()
            self._expected[name] = (
                len(frame), sorted(frame.columns), frame_hash(canon_frame(frame))
            )
        return self._expected[name]

    def corrupt(self, name: str) -> None:
        """Replace a cached expected hash by a wrong one (the benchmark's
        self-test that a wrong output is caught)."""
        rows, cols, digest = self._expected[name]
        self._expected[name] = (rows, cols, "0" * len(digest))

    def check(self, name: str, oracle_sql: str, frame) -> str | None:
        """None when ``frame`` matches the oracle, else a description."""
        rows, cols, digest = self.expected(name, oracle_sql)
        if len(frame) != rows:
            return f"{name}: {len(frame)} rows, oracle {rows}"
        if sorted(frame.columns) != cols:
            return f"{name}: columns {sorted(frame.columns)}, oracle {cols}"
        got = frame_hash(canon_frame(frame))
        if got != digest:
            return f"{name}: value hash {got}, oracle {digest}"
        return None


_VERSION_FILE = re.compile(r"^(\d{20})\.json$")


def check_cda_table(tree_table, table_path: str, high_water: int | None,
                    read_back: tuple[int, int]) -> list[str]:
    """Problems with one synced table, compared with the staged tree:

    * the read-back row count and key sum equal the staged files of
      the newest published fingerprint;
    * Delta versions are 0..n with no gap;
    * no data file path is added twice anywhere in the log;
    * the ``_checkpoints`` high-water mark is the last published folder.
    """
    name = tree_table.name
    problems = []
    want = tree_table.expected()
    if tuple(read_back) != want:
        problems.append(f"{name}: read back (rows, key sum) {read_back}, staged {want}")
    log_dir = os.path.join(table_path, "_delta_log")
    versions = sorted(
        int(m.group(1)) for m in map(_VERSION_FILE.match, os.listdir(log_dir)) if m
    )
    if versions != list(range(len(versions))):
        problems.append(f"{name}: versions not contiguous: {versions[:5]}..{versions[-5:]}")
    seen: set[str] = set()
    for v in versions:
        with open(os.path.join(log_dir, f"{v:020d}.json"), encoding="utf-8") as f:
            for line in f:
                add = json.loads(line).get("add")
                if add is None:
                    continue
                if add["path"] in seen:
                    problems.append(f"{name}: {add['path']} added twice (v{v})")
                seen.add(add["path"])
    if high_water != tree_table.watermark():
        problems.append(
            f"{name}: checkpoint high-water {high_water}, last published "
            f"{tree_table.watermark()}"
        )
    return problems
