"""Session-owned memo: the only relations a query leaves persisted, so
``clear_session_memos`` releases every one of them.

Three entries stay, each with a measured win (the numbers sit at the
call sites). A barrier inside one query, where a relation feeds several
branches of one plan and a lazy cache would be recomputed by each:
``lsh-buckets`` (a self-join). An artifact shared across queries that is
also a barrier inside each: ``shingles`` (every MinHash, n-gram,
set-similarity and containment query). Shared across queries only:
``cc-labels`` (the three cluster queries solve one graph).

Slots live on the ``SparkSession`` they serve, in
``spark.__dict__["_graft_memo"]``, one per ``(name, sf_dir)``: a build
lock, the table-state signature the relation was built under
(``sources.io._stat_sig`` or a tuple nesting one) and the persisted
relation. The table dies with its session. A ``WeakKeyDictionary`` keyed
by session would never clear, since each memoized DataFrame references
its session.

A slot holds at most one relation. When the signature has moved, the held
relation is unpersisted before the new one is built: Spark's CacheManager
matches cached plans by file path, so a rewritten table's new plan would
otherwise find the stale cache, read its rows and refuse to cache anew.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MUTEX = threading.Lock()


class _Slot:
    """One ``(name, sf_dir)``: its build lock, and the relation ``df``
    persisted for the table state ``sig`` (``df`` is None when empty)."""

    def __init__(self) -> None:
        self.lock, self.sig, self.df = threading.Lock(), None, None

    def drop(self) -> int:
        """Unpersist and forget the held relation (lock held); returns how
        many were dropped."""
        if self.df is None:
            return 0
        _unpersist(self.df)
        self.df = None
        return 1


def _slots(spark: SparkSession) -> dict[tuple[str, str], _Slot]:
    """``spark``'s memo slots, created on first use."""
    with _MUTEX:
        return spark.__dict__.setdefault("_graft_memo", {})


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass


def clear_session_memos(spark: SparkSession) -> int:
    """Unpersist and drop every relation memoized on ``spark``; returns how
    many. Slot locks are taken one at a time, never nested, so a build in
    flight finishes first and its relation is dropped too."""
    slots = _slots(spark)
    dropped = 0
    while True:
        with _MUTEX:
            pending = list(slots.values())
        for slot in pending:
            with slot.lock:
                dropped += slot.drop()
        with _MUTEX:
            if all(slot.df is None for slot in slots.values()):
                return dropped


def session_memo(
    name: str, spark: SparkSession, sf_dir: str, sig: Callable[[], object],
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The relation memoized on ``spark`` under (``name``, ``sf_dir``) for
    the table state ``sig()``. Under the slot lock: a matching signature
    returns the held relation; otherwise the held one is unpersisted and
    ``build()`` is persisted behind a ``count()`` barrier (a lazy cache
    read by several unmaterialized stages of one action is recomputed by
    each). ``sig()`` is evaluated again after the barrier; if it moved, a
    rewrite landed mid-build, so the relation is returned unpersisted and
    not installed."""
    slots = _slots(spark)
    with _MUTEX:
        slot = slots.setdefault((name, sf_dir), _Slot())
    with slot.lock:
        want = sig()
        if slot.df is not None and slot.sig == want:
            return slot.df
        slot.drop()
        df = build().persist()
        df.count()
        if sig() != want:
            _unpersist(df)
            return df
        slot.sig, slot.df = want, df
        return df
