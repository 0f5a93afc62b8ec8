"""In-process cache for small TRAINED ARTIFACTS — BPE merge lists,
IVF centroid tables, PQ codebooks: deterministic functions
of an input corpus, and (before this cache) recomputed from scratch
by every query invocation that applies them.

This is the standard production pattern (a tokenizer is trained once
and applied for months; an ANN index's coarse quantizer is trained
once per corpus snapshot), made safe by keying every entry on a
CORPUS FINGERPRINT — the backing parquet file's absolute path, size,
and mtime_ns — so any data change invalidates naturally.  Entries are
driver-side memory only, never row data: k-sized (a merge list, an
8x64 centroid table) or distinct-value-sized (BPE's word → token-count
table beside its merge list, the bound its training collect has).

Scale note: the training passes these artifacts come from touch the
corpus a bounded number of times.  BPE aggregates it ONCE into its
distinct-word vocabulary and runs every merge round on the driver
over that vocabulary (driver memory and per-round time grow with the
number of distinct words, not with corpus size); IVF's Lloyd steps
are partial aggregates.  The cache removes their FIXED cost from
repeated applications in one session, which is where local
benchmarks and interactive use spend their time.
"""

from __future__ import annotations

import os
from typing import Any, Callable

_CACHE: dict[tuple, Any] = {}


def corpus_fingerprint(sf_dir: str, table: str) -> tuple:
    """Identity of a test-table corpus: (abspath, size, mtime_ns) of
    the backing parquet file.  Raises if the file is missing — a
    cache key must never silently degrade to a constant."""
    path = os.path.abspath(os.path.join(sf_dir, f"{table}.parquet"))
    st = os.stat(path)
    return (path, st.st_size, st.st_mtime_ns)


def get_or_train(name: str, key: tuple | None, train: Callable[[], Any]):
    """Return the cached artifact for (name, key), training on miss.

    ``key=None`` disables caching (e.g. streaming first-batch
    training, where the artifact is a function of arrival order, not
    of a fingerprint-able corpus)."""
    if key is None:
        return train()
    k = (name, key)
    if k not in _CACHE:
        _CACHE[k] = train()
    return _CACHE[k]


def has(name: str, key: tuple | None) -> bool:
    """True when the artifact for (name, key) is already cached —
    lets a pipeline skip WARM-path-only scaffolding (e.g. the
    localCheckpoint that exists to feed multiple training jobs) when
    no training will run."""
    return key is not None and (name, key) in _CACHE


def clear() -> None:
    _CACHE.clear()
