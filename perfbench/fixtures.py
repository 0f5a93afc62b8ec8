"""Seeded input generation for the benchmark.

Two kinds of input, both written with numpy + pyarrow and no Spark:

* ``write_tables`` — the relational star schema plus the documents and
  embeddings corpora, in the same layout and column types the query
  registry reads (one ``<table>.parquet`` per table, see FIXTURES.md).
  Row counts scale with ``sf`` as in TESTDATA.md (lineitem =
  6M x sf).
* ``CdaTree`` — a Guidewire CDA export tree (manifest + per-table
  ``<fingerprint>/<timestamp>/part-*.parquet`` folders) whose rows are
  slices of the generated ``orders`` table.  Every table has two
  schema fingerprints; the second adds a column, so indexing it runs
  the connector's UPGRADE_SCHEMA path.

The same seed always yields byte-identical row contents.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = "blue cold hot large new old red small".split()
_NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_DAY_US = 86_400 * 1_000_000


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with exactly two decimals (integer cents / 100)."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), size=n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _dates(rng: np.random.Generator, lo: str, hi: str, n: int) -> pa.Array:
    days = rng.integers(0, (_day_us(hi) - _day_us(lo)) // _DAY_US + 1, n)
    return pa.array(_day_us(lo) + days * _DAY_US, pa.timestamp("us"))


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 30-word vocabulary.  One in twenty
    ends in the token ``dup`` and is either an exact copy of an earlier
    document or a copy with a few words changed, so the dedup, overlap
    and substring operators have real groups to find."""
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(_WORDS), int(lengths.sum()))
    texts: list[str] = []
    pos = 0
    for i, length in enumerate(lengths):
        ids = words[pos : pos + length]
        pos += length
        if i >= 20 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            src = [w for w in src if w != "dup"]
            if rng.random() < 0.5:
                for j in rng.integers(0, len(src), 3):
                    src[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(src + ["dup"]))
        else:
            texts.append(" ".join(_WORDS[k] for k in ids))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Unit-norm float32 vectors around ten label centroids."""
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), dim
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every registry table at scale factor ``sf`` from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_evt, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(
                [
                    f"{_ADJ[a]} {_NOUN[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": (90_000 + (pk % 1000) * 10) / 100.0,
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _dates(rng, "1995-01-01", "2001-08-01", n_ord),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _dates(rng, "1995-01-02", "2001-11-04", n_line),
        }
    )
    gaps = rng.exponential(30 * _DAY_US / n_evt, n_evt).astype(np.int64)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(_day_us("2024-01-01") + np.cumsum(gaps), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_evt),
            "value": np.round(rng.exponential(50.0, n_evt), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
        }
    )
    t["documents"] = _documents(rng, n_doc)
    t["embeddings"] = _embeddings(rng, n_emb)
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --------------------------------------------------------------------------
# CDA export tree


_BASE_TS = 1_700_000_000_000  # first commit folder, epoch millis
_STEP_MS = 60_000


@dataclass
class CdaTable:
    """One CDA table: its published folders in commit order and what
    each holds."""

    name: str
    index: int
    data_path: str
    fingerprints: tuple[str, str]
    switch_at: int  # folder index where the second fingerprint starts
    folders: list[int] = field(default_factory=list)  # commit timestamps
    rows: dict[int, tuple[int, int]] = field(default_factory=dict)  # ts -> (count, key sum)

    def folder_ts(self, j: int) -> int:
        return _BASE_TS + (j + 1) * _STEP_MS + self.index

    def fingerprint_of(self, j: int) -> str:
        return self.fingerprints[0] if j < self.switch_at else self.fingerprints[1]

    def watermark(self) -> int:
        return self.folders[-1]

    def expected(self) -> tuple[int, int]:
        """Row count and key sum of the latest snapshot: every folder of
        the newest fingerprint reached so far (the UPGRADE_SCHEMA commit
        removes the older fingerprint's files)."""
        live = self.folders[self.switch_at :] if len(self.folders) > self.switch_at else self.folders
        return (
            sum(self.rows[ts][0] for ts in live),
            sum(self.rows[ts][1] for ts in live),
        )


class CdaTree:
    """A seeded CDA export cut from ``orders``: one table per
    ``(initial folders, first folder of the second fingerprint)`` entry
    of ``layout``.  ``add_folders`` writes more folders, as a CDA
    producer does between syncs, and ``write_manifest`` then moves every
    table's watermark to its last folder.  Folder ``j`` holds
    ``2 + j % 3`` files; the seed decides the rows and where they are
    split."""

    def __init__(
        self,
        root: str,
        orders: pa.Table,
        layout: list[tuple[int, int]],
        rows_per_folder: int,
        seed: int,
    ) -> None:
        self.root = root
        self.manifest_path = os.path.join(root, "manifest.json")
        self.rng = np.random.default_rng(seed)
        self.orders = orders.select(["o_orderkey", "o_custkey", "o_totalprice"])
        self.rows_per_folder = rows_per_folder
        self._cursor = 0
        self.tables: dict[str, CdaTable] = {}
        for i, (n_init, switch_at) in enumerate(layout):
            tbl = CdaTable(
                name=f"cda_t{i:02d}",
                index=i,
                data_path=os.path.join(root, "data", f"cda_t{i:02d}"),
                fingerprints=(str(300_000_000 + 2 * i), str(300_000_001 + 2 * i)),
                switch_at=switch_at,
            )
            self.tables[tbl.name] = tbl
            self.add_folders(tbl.name, n_init)
        self.write_manifest()

    def add_folders(self, name: str, n: int) -> None:
        """Write ``n`` more commit folders of table ``name``, each split
        into a seeded number of files."""
        tbl = self.tables[name]
        for _ in range(n):
            j = len(tbl.folders)
            ts = tbl.folder_ts(j)
            n_rows = int(
                self.rng.integers(self.rows_per_folder // 2, self.rows_per_folder * 3 // 2)
            )
            start = self._cursor % (self.orders.num_rows - n_rows)
            self._cursor += n_rows
            rows = self.orders.slice(start, n_rows)
            if j >= tbl.switch_at:
                rows = rows.append_column(
                    "o_flag", pa.array((np.arange(n_rows) + j) % 3, pa.int32())
                )
            folder = os.path.join(tbl.data_path, tbl.fingerprint_of(j), str(ts))
            os.makedirs(folder)
            n_files = 2 + j % 3
            cuts = np.sort(self.rng.choice(np.arange(1, n_rows), n_files - 1, replace=False))
            bounds = [0, *cuts.tolist(), n_rows]
            for k in range(n_files):
                pq.write_table(
                    rows.slice(bounds[k], bounds[k + 1] - bounds[k]),
                    os.path.join(folder, f"part-{k:05d}-{j:05d}.snappy.parquet"),
                )
            tbl.folders.append(ts)
            tbl.rows[ts] = (n_rows, int(rows.column("o_orderkey").to_numpy().sum()))

    def write_manifest(self) -> None:
        """Publish every written folder: the manifest's watermark of each
        table becomes its last folder (written atomically)."""
        manifest = {}
        for tbl in self.tables.values():
            manifest[tbl.name] = {
                "lastSuccessfulWriteTimestamp": str(tbl.watermark()),
                "totalProcessedRecordsCount": sum(n for n, _ in tbl.rows.values()),
                "dataFilesPath": tbl.data_path + "/",
                "schemaHistory": {
                    tbl.fingerprints[0]: str(tbl.folder_ts(0)),
                    tbl.fingerprints[1]: str(tbl.folder_ts(tbl.switch_at)),
                },
            }
        tmp = self.manifest_path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as f:
            json.dump(manifest, f)
        os.replace(tmp, self.manifest_path)
