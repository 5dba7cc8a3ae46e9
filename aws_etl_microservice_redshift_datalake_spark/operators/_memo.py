"""Session-owned memo: the only relations a query leaves persisted, so
``clear_session_memos`` releases every one of them.

Six entries stay, each with a measured win (the numbers sit at the call
sites). Barriers inside one query, where a relation feeds several
branches of one plan and a lazy cache would be recomputed by each:
``setsim-prefix`` and ``lsh-buckets`` (self-joins). Artifacts shared across
queries that are also barriers inside each: ``shingles`` (every MinHash,
n-gram, set-similarity and containment query), ``containment-prefix`` and
``containment-postings``. Shared across queries only: ``cc-labels`` (the
three cluster queries solve one graph).

Entries live on the ``SparkSession`` they serve, in
``spark.__dict__["_graft_memo"]``: entries keyed ``(name, sf_dir, sig)``,
where ``sig`` is a table-state signature (``sources.io._stat_sig`` or a
tuple nesting one), and build locks keyed ``(name, sf_dir)``. The table
dies with its session. A ``WeakKeyDictionary`` keyed by session would never
clear, since each memoized DataFrame references its session.

Installing an entry unpersists the same key's entries whose signature is
strictly older by max file mtime. On a tie both stay: coarse-mtime
filesystems can stamp a pre- and post-rewrite state alike.
"""

from __future__ import annotations

import threading
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_MUTEX = threading.Lock()


def _tables(spark: SparkSession) -> tuple[dict, dict]:
    """(entries, locks) of ``spark``'s memo, created on first use."""
    with _MUTEX:
        return spark.__dict__.setdefault("_graft_memo", ({}, {}))


def _unpersist(df: DataFrame) -> None:
    try:
        df.unpersist()
    except Exception:
        pass


def _sig_fresh(sig: object) -> int:
    """Max mtime_ns in a (nested) tuple of ``(path, size, mtime_ns)``."""
    if isinstance(sig, tuple):
        if len(sig) == 3 and isinstance(sig[0], str) and isinstance(sig[2], int):
            return sig[2]
        return max((_sig_fresh(s) for s in sig), default=0)
    return 0


def clear_session_memos(spark: SparkSession) -> int:
    """Unpersist and drop every relation memoized on ``spark``; returns how
    many. Key locks are taken one at a time, never nested, so a build in
    flight finishes first and its entry is dropped too."""
    entries, locks = _tables(spark)
    dropped = 0
    while True:
        with _MUTEX:
            pending = list(locks.items())
        for lkey, lock in pending:
            with lock, _MUTEX:
                gone = [entries.pop(k) for k in list(entries) if k[:2] == lkey]
            for df in gone:
                _unpersist(df)
            dropped += len(gone)
        with _MUTEX:
            if not entries:
                return dropped


def session_memo(
    name: str, spark: SparkSession, sf_dir: str, sig: object,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """The relation memoized on ``spark`` under (``name``, ``sf_dir``,
    ``sig``). On a miss ``build()`` is persisted behind a ``count()``
    barrier: a lazy cache read by several unmaterialized stages of one
    action is recomputed by each. A callable ``sig`` is evaluated under the
    key lock and again after the build; if they differ, a rewrite landed
    mid-build, so the relation is returned unpersisted and not installed."""
    entries, locks = _tables(spark)
    with _MUTEX:
        lock = locks.setdefault((name, sf_dir), threading.Lock())
    with lock:
        sig_fn = sig if callable(sig) else None
        key = (name, sf_dir, sig_fn() if sig_fn else sig)
        if key in entries:
            return entries[key]
        df = build().persist()
        df.count()
        if sig_fn is not None and sig_fn() != key[2]:
            _unpersist(df)
            return df
        fresh = _sig_fresh(key[2])
        with _MUTEX:
            entries[key] = df
            stale = [entries.pop(k) for k in list(entries)
                     if k[:2] == key[:2] and _sig_fresh(k[2]) < fresh]
        for odf in stale:
            _unpersist(odf)
        return df
