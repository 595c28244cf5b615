"""Loaded-dimension row cache — the reference's in-RAM model tables — and
the one driver-size probe.

The reference loads its dictionary and graph model into memory once per
process and serves every lookup from RAM (symbol maps rpg/indexer.go:527,
adjForward/adjReverse rpg/model.go:70-80). The Spark analog of "loaded
model" is a driver-side row list for a BROADCAST-SIDE DIMENSION — the alias
dictionary, a driver-computed similarity edge list, a dictionary-scale
canonical map. Re-collecting one of those costs a full Spark action
(~0.15-0.35 s of pure driver/job overhead at any data size — measured r7),
which turns dictionary-scale serving paths into chains of fixed-cost jobs.

Two sources, in priority order:

* rows ATTACHED by a driver-side producer (``attach_rows``): the producer
  already holds the rows in Python (it computed them), so a consumer that
  needs them back pays nothing instead of a collect job.
* a WeakKeyDictionary memo keyed by the DataFrame HANDLE: the same handle
  always describes the same immutable plan, so its collected rows are
  reusable for the handle's lifetime. Keying by object identity (not plan
  content) means a re-created DataFrame over changed data can never serve
  stale rows — the cache dies with the handle.

``cached_rows`` is ONLY for dimension tables whose backing data is
immutable for the handle's lifetime (the session-memoized alias dict,
LocalRelations, per-session store artifacts). Inputs that may be
corpus-scale (a near-dup pair graph, a stored adjacency) go through
``bounded_rows`` instead: it loads them only when a ``limit`` probe shows
they fit under ``DRIVER_ROWS_CAP``, and otherwise leaves the caller on its
distributed path.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame

# The one driver-size cutoff: an input with at most this many rows is
# processed on the driver (union-find, BFS over a dict adjacency) instead
# of by an iterative distributed loop whose per-round job overhead
# dominates at this size. Read at call time, so a test can set it to 0 to
# force every distributed branch.
DRIVER_ROWS_CAP = 100_000

_ROWS: "WeakKeyDictionary[DataFrame, list]" = WeakKeyDictionary()


def attach_rows(df: DataFrame, rows: list) -> DataFrame:
    """Record that `rows` ARE the content of `df` (producer-side)."""
    _ROWS[df] = rows
    return df


def cached_rows(df: DataFrame) -> list:
    """Collect (once per handle) and memoize the full row list."""
    rows = _ROWS.get(df)
    if rows is None:
        rows = df.collect()
        _ROWS[df] = rows
    return rows


def bounded_rows(df: DataFrame) -> list | None:
    """The full row list of `df` if it has at most DRIVER_ROWS_CAP rows,
    else None. Rows already attached or collected for the handle cost
    nothing; otherwise one ``limit(cap + 1)`` probe runs. Probed rows are
    not memoized: the handle may not be a dimension (see the module
    docstring), so a producer that owns it attaches them explicitly."""
    cap = DRIVER_ROWS_CAP
    rows = _ROWS.get(df)
    if rows is None:
        rows = df.limit(cap + 1).collect()
    return rows if len(rows) <= cap else None
