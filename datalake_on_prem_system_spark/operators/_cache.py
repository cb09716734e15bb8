"""One registry for derived state: every value an operator derives from
its fixture tables and keeps for later calls goes through ``derived``.

``derived(kind, sf_dir, inputs, build)`` returns the live value for the key
``(kind, abspath(sf_dir), *key)`` or calls ``build()`` to make it. The key
keeps the path on purpose: two directories holding the same files (hard
links, copies) are two entries, so each redoes its own index work.
``inputs`` names the fixture tables the value is derived from; the
generation of an input is the ``st_mtime_ns`` of ``{sf_dir}/{table}.parquet``
(0 when it is missing).

Invalidation is one rule: when a call sees a new generation of one
``(sf_dir, table)``, every entry built from that file is released before
anything is rebuilt, not only the entry asked for. Releasing unpersists the
entry's frame (Spark caches by logical plan, which does not change when a
file is rewritten in place, so the old cache entry must go before the
rebuild persists the same plan again) and removes the directories its build
created.

Values come in three kinds, all on the same path:

- directories: every ``index_tempdir`` made while a build runs belongs to
  that entry; it is removed when the entry is released, and at exit;
- driver values (codebooks, thresholds, key lists) are kept as they are;
- DataFrames are persisted. At most ``_MAX_LIVE`` frames stay registered;
  one more releases the least recently used (a lazy result that still
  references it recomputes its lineage). A key holds one frame, so a
  repeat call never unpersists the plan it is about to return; every hit
  re-``persist()``s it, so a harness ``clearCache()`` does not leave a
  registered frame uncached for good.

``measured=True`` marks an entry whose build is the operator's measured
work; ``release_measured()`` drops exactly those, so a timed rerun repeats
it. ``release_all()`` drops everything. ``builds(kind)`` counts builds and
``lookup`` reads an entry without building it.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from collections import Counter
from collections.abc import Callable, Iterable
from dataclasses import dataclass
from typing import Any, TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")

# small: each frame is corpus-sized; the cap bounds storage at a handful of
# concurrently useful frames
_MAX_LIVE = 4


@dataclass
class _Entry:
    value: Any
    sources: frozenset[tuple[str, str]]  # (abspath sf_dir, table)
    dirs: list[str]
    measured: bool


_entries: dict[tuple, _Entry] = {}  # least recently used first
_seen: dict[tuple[str, str], int] = {}  # generation last seen per input
_builds: Counter[str] = Counter()
_building: list[list[str]] = []  # directories of the builds in progress


def _generation(sf: str, table: str) -> int:
    try:
        return os.stat(os.path.join(sf, f"{table}.parquet")).st_mtime_ns
    except OSError:
        return 0


def index_tempdir(prefix: str) -> str:
    """``tempfile.mkdtemp``, removed at exit. Made inside a build, the
    directory belongs to that entry and goes when the entry is released."""
    path = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    if _building:
        _building[-1].append(path)
    return path


def derived(
    kind: str,
    sf_dir: str,
    inputs: Iterable[str],
    build: Callable[[], T],
    key: tuple = (),
    *,
    measured: bool = False,
) -> T:
    """The value of ``kind`` for ``sf_dir`` (and ``key``), built from the
    fixture tables ``inputs``; see the module docstring."""
    sf = os.path.abspath(sf_dir)
    sources = frozenset((sf, table) for table in inputs)
    for src in sources:
        gen = _generation(*src)
        if _seen.setdefault(src, gen) != gen:
            _seen[src] = gen
            _release([k for k, e in _entries.items() if src in e.sources])
    k = (kind, sf, *key)
    entry = _entries.pop(k, None)
    if entry is None:
        dirs: list[str] = []
        _building.append(dirs)
        try:
            value = build()
        finally:
            _building.pop()
        _builds[kind] += 1
        entry = _Entry(value, sources, dirs, measured)
    _entries[k] = entry
    if isinstance(entry.value, DataFrame):
        entry.value.persist()
        frames = [f for f, e in _entries.items() if isinstance(e.value, DataFrame)]
        _release(frames[:-_MAX_LIVE])
    return entry.value


def _release(keys: list[tuple]) -> int:
    for k in keys:
        entry = _entries.pop(k)
        if isinstance(entry.value, DataFrame):
            try:
                entry.value.unpersist(blocking=True)
            except Exception:  # session already stopped: nothing to release
                pass
        for d in entry.dirs:
            shutil.rmtree(d, ignore_errors=True)
    return len(keys)


def release_all() -> int:
    """Release every entry; returns how many were released."""
    return _release(list(_entries))


def release_measured() -> int:
    """Release the ``measured=True`` entries; returns how many."""
    return _release([k for k, e in _entries.items() if e.measured])


def builds(kind: str) -> int:
    """How many times an entry of ``kind`` has been built."""
    return _builds[kind]


def lookup(kind: str, sf_dir: str, key: tuple = ()) -> Any:
    """The live value of an entry, or None; never builds."""
    entry = _entries.get((kind, os.path.abspath(sf_dir), *key))
    return None if entry is None else entry.value
