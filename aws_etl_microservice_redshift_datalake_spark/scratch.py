"""Process-scoped scratch space for queries with filesystem side effects.

q_compact_roundtrip / the ingest round-trips rewrite directories whose names
were previously derived only from sf_dir, so two concurrent runs at the same
scale factor raced on the frag/compact dirs mid-swap (ADVICE r4). The root
is overridable (SPARK_GRAFT_SCRATCH) and every process works under its own
``p<pid>`` subdirectory, removed best-effort at interpreter exit so repeated
driver rounds don't accumulate rewritten table copies.
"""

from __future__ import annotations

import atexit
import os
import shutil

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_REGISTERED: set[str] = set()


def scratch_root() -> str:
    """``SPARK_GRAFT_SCRATCH`` or ``<repo>/.tmp``, resolved at call time so
    an override set after import still applies."""
    return os.environ.get("SPARK_GRAFT_SCRATCH") or os.path.join(_REPO, ".tmp")


def process_scratch() -> str:
    """This process's private scratch dir (created on first use). Cleanup
    registration is keyed on this process's own bookkeeping, not the
    directory's existence — a recycled pid finding a stale dir from a dead
    process must still adopt (and eventually remove) it."""
    d = os.path.join(scratch_root(), f"p{os.getpid()}")
    if d not in _REGISTERED:
        os.makedirs(d, exist_ok=True)
        owner = os.getpid()

        def _cleanup() -> None:
            # atexit handlers are inherited across fork(): only the pid
            # that registered the dir may remove it, or a child exiting
            # via sys.exit would delete its parent's scratch mid-run
            if os.getpid() == owner:
                shutil.rmtree(d, ignore_errors=True)

        atexit.register(_cleanup)
        _REGISTERED.add(d)
    return d
