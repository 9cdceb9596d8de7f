"""Per-process scratch root for impure queries (sinks, checkpoints).

Round-8 fix for the concurrency foot-gun documented in round 7:
impure streaming/sink queries used to key their checkpoint and sink
dirs under a REPO-SHARED ``.scratch/`` by query name + sf only, so
two processes running the registry at once (pytest alongside
tools/driver_equiv.py, or the driver alongside either) clobbered
each other's state — Spark aborts with
STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY or doubles sink rows.

Every scratch consumer now keys under ``.scratch/pid<os.getpid()>``:
within one process the paths are stable (idempotent re-invocation
and the prepared-plan cache still work), across processes they can
never collide. Dead processes' dirs are reaped on import by checking
``/proc/<pid>`` (this platform is Linux; where /proc is absent the
reap is skipped and dirs accumulate until a manual clean — harmless,
they are gitignored).

tools/grown.py (the scale tools' corpora) and
tools/stream_state_slope.py intentionally do NOT use the pid-keyed
root: their grown corpora are cached across runs via _SUCCESS
markers and rebuilding them per-process would defeat that cache.
Their dirs live directly under ``.scratch/`` with non-``pid`` names,
which the reaper never touches.
"""

from __future__ import annotations

import os
import shutil

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: Shared parent — also where non-pid-keyed long-lived artifacts
#: (slope-tool corpora) live.
SCRATCH_ROOT = os.path.join(_REPO, ".scratch")

#: Per-process scratch root — all impure-query writes go under here.
SCRATCH = os.path.join(SCRATCH_ROOT, f"pid{os.getpid()}")


def _reap_stale() -> None:
    """Delete pid-keyed scratch dirs whose owning process is gone.

    Only ``pid<digits>`` entries are candidates; anything else under
    SCRATCH_ROOT (slope corpora, pre-round-8 leftovers) is left
    alone. Liveness is /proc-based, so the reap only runs where
    /proc exists — never guess liveness, a wrong guess deletes a
    live process's checkpoint mid-stream.
    """
    try:
        entries = os.listdir(SCRATCH_ROOT)
    except OSError:
        return
    for name in entries:
        if not name.startswith("pid"):
            continue
        tail = name[3:]
        if not tail.isdigit() or int(tail) == os.getpid():
            continue
        if os.path.exists(os.path.join("/proc", tail)):
            continue
        shutil.rmtree(os.path.join(SCRATCH_ROOT, name), ignore_errors=True)


def _clear_own_dir() -> None:
    """Remove any leftover dir under the CURRENT pid's key.

    After PID recycling, ``pid<os.getpid()>`` may hold a dead
    predecessor's checkpoints — the reaper skips it (it matches our
    own pid), but Spark would then hit the same
    STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY clobber the pid keying
    exists to prevent. A dir matching our pid at import time cannot
    belong to another *live* process, and this process has not
    written anything yet, so deleting it is always safe.
    """
    shutil.rmtree(SCRATCH, ignore_errors=True)


_clear_own_dir()
if os.path.isdir("/proc"):
    _reap_stale()
