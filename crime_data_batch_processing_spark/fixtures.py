"""Derived-fixture scratch management shared by every operator that
materializes state from a testdata table (CSV/JSON/ORC/binary copies,
the Derby JDBC database, rollup/zone-map/sketch tables), plus the
cross-process lockfile protocol that both `build_once` and the
manifest sink's commit (`sources/pydatasource.py`) hold.

Two invariants every fixture needs:

1. **Generation safety.** Scratch keys hash the absolute sf_dir AND
   each source table's (size, mtime) fingerprint: the testdata tree
   can be rewritten in place while /tmp survives, and a fixture built
   from the previous generation would otherwise serve silently stale
   rows. A regeneration keys a fresh scratch dir and the fixture
   rebuilds. (Path-only hashing also prevents two sf trees with the
   same basename from sharing state.)

2. **Concurrency safety.** `build_once` holds the scratch dir's lock
   (`acquire_lock`/`release_lock`) around the build and its
   completion marker, so exactly one process builds and a
   half-written fixture is never read.

The lock protocol:

- election is an O_EXCL create of the lockfile;
- the holder heartbeats the lock through its fd every `stale_s / 4`,
  so a live long holder is never mistaken for an orphan, and the
  beat can never freshen a peer's lock at the same path;
- a waiter breaks a lock only if its (ino, mtime) is unchanged since
  the stat that judged it stale (`_break_if_still_stale`), so a
  refreshed or re-created lock is never unlinked by a racing waiter;
- release unlinks only while the path still names the held fd's
  inode, and leaks the fd if the beat thread does not confirm exit
  (a late beat on a recycled fd number would touch an unrelated
  file).

The module ships by value to Spark's Python workers (see
`sources.pydatasource._pickle_self_by_value`), so the lock code uses
the standard library only.
"""

from __future__ import annotations

import hashlib
import os
import threading
import time
from collections.abc import Callable


def scratch_dir(kind: str, sf_dir: str, *source_tables: str) -> str:
    """Scratch root for a fixture of `kind` derived from the given
    testdata tables."""
    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    for name in source_tables:
        p = os.path.join(os.path.abspath(sf_dir), f"{name}.parquet")
        st = os.stat(p)
        h.update(f"|{name}:{st.st_size}:{st.st_mtime_ns}".encode())
    return f"/tmp/cdbp_{kind}/{h.hexdigest()[:16]}"


#: A fixture lock whose mtime is older than this is presumed orphaned
#: (builder SIGKILLed / OOM-killed before its release). The holder
#: beats every STALE_LOCK_S / 4, so a live builder's lock can only
#: look stale if its whole process is frozen for STALE_LOCK_S — at
#: which point breaking it is the intended self-healing.
STALE_LOCK_S = 180


class LockHandle:
    """A held lock: the O_EXCL fd plus its heartbeat thread (None when
    acquired with `heartbeat=False`)."""

    #: how long `stop_heartbeat` waits for the thread to confirm exit
    #: before declaring it stuck
    JOIN_TIMEOUT_S = 5.0

    def __init__(self, fd: int, stop, thread) -> None:
        self.fd = fd
        self._stop = stop
        self._thread = thread

    def stop_heartbeat(self) -> bool:
        """Signal the heartbeat to exit and wait for it; returns True
        once the thread has CONFIRMED exit (or never existed). A False
        return means the thread may still be inside `os.utime(fd)`
        (e.g. hung network FS) — the caller must then NOT close the
        fd."""
        if self._stop is not None:
            self._stop.set()
            self._thread.join(timeout=self.JOIN_TIMEOUT_S)
            if self._thread.is_alive():
                return False
            self._stop = None
        return True


def _break_if_still_stale(lockfile: str, observed: os.stat_result) -> None:
    """Unlink the lock only if it is the SAME file (ino) with the SAME
    mtime we judged stale — a heartbeat refresh or a re-created lock
    from a newly elected holder makes this a no-op, closing the
    stat-old/unlink-new race."""
    try:
        cur = os.stat(lockfile)
        if (cur.st_ino, cur.st_mtime_ns) == (
            observed.st_ino,
            observed.st_mtime_ns,
        ):
            os.unlink(lockfile)
    except FileNotFoundError:
        pass


def acquire_lock(
    lockfile: str,
    stale_s: float = STALE_LOCK_S,
    timeout_s: float | None = None,
    heartbeat: bool = True,
) -> LockHandle:
    """O_EXCL-elect `lockfile` and start its fd heartbeat; returns the
    holder's handle, to be passed to `release_lock`.

    A lock whose mtime is older than `stale_s` is broken (guarded by
    `_break_if_still_stale`), so one crashed holder never wedges every
    later caller. A live lock is waited on: up to `timeout_s`, or for
    as long as its holder stays live when `timeout_s` is None. Every
    retry re-checks the deadline, so lock churn cannot extend a
    bounded wait. `heartbeat=False` simulates a holder whose beat
    died (the ownership-checked release still protects that case).
    """
    deadline = None if timeout_s is None else time.monotonic() + timeout_s
    fd = None
    while fd is None:
        if deadline is not None and time.monotonic() > deadline:
            raise TimeoutError(
                f"lock still live after {timeout_s:.0f}s: {lockfile} — "
                "its holder appears wedged; investigate before "
                "removing the lock"
            )
        try:
            fd = os.open(lockfile, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                st = os.stat(lockfile)
            except FileNotFoundError:
                continue  # holder just finished: re-elect
            if time.time() - st.st_mtime > stale_s:
                _break_if_still_stale(lockfile, st)
                continue
            time.sleep(0.05)
    if not heartbeat:
        return LockHandle(fd, None, None)
    stop = threading.Event()

    def _beat() -> None:
        while not stop.wait(stale_s / 4):
            try:
                os.utime(fd)
            except OSError:
                return  # fd closed under us: holder is releasing

    t = threading.Thread(target=_beat, daemon=True)
    t.start()
    return LockHandle(fd, stop, t)


def release_lock(lockfile: str, handle: LockHandle) -> None:
    """Ownership-checked release of an `acquire_lock` handle.

    Stops the heartbeat first, then unlinks only while the path still
    names the inode of the held fd: a holder that stalled past its
    staleness horizon may have had its lock broken and re-created by a
    peer, and an unconditional unlink would delete the peer's live
    lock. If the heartbeat does not confirm exit, the fd is leaked
    instead of closed.
    """
    heartbeat_exited = handle.stop_heartbeat()
    try:
        if os.stat(lockfile).st_ino == os.fstat(handle.fd).st_ino:
            os.unlink(lockfile)
    except FileNotFoundError:
        pass
    finally:
        if heartbeat_exited:
            os.close(handle.fd)


def build_once(base: str, build: Callable[[], None]) -> None:
    """Run `build()` exactly once per scratch dir across processes:
    hold `{base}/_BUILD_LOCK`, build if the `{base}/_BUILD_OK` marker
    is missing, write the marker, release. A failed build leaves no
    marker and no lock, so the next call rebuilds."""
    marker = f"{base}/_BUILD_OK"
    if os.path.exists(marker):
        return
    os.makedirs(base, exist_ok=True)
    lockfile = f"{base}/_BUILD_LOCK"
    handle = acquire_lock(lockfile, STALE_LOCK_S)
    try:
        if not os.path.exists(marker):
            build()
            open(marker, "w").close()
    finally:
        release_lock(lockfile, handle)
