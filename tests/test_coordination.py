"""The coordination seam (coordination.py): the three primitives the
table format's safety reduces to — CAS publish, crash-recoverable
mutex, remove — and the pid-ownership rules that close the sidecar
races. Pure stdlib; no Spark session."""

from __future__ import annotations

import os

import pytest

from zestdb_spark import coordination

#: the repo this test file lives in — child processes import it, not
#: whatever copy happens to be installed or checked out elsewhere
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


#: a pid that CANNOT exist: kernel.pid_max's ceiling is 2^22 = 4194304
#: inclusive, so anything strictly above it never names a process
DEAD_PID = (1 << 22) + 1 + (os.getpid() % 100_000)


def _write(path: str, content: str) -> None:
    with open(path, "w") as f:
        f.write(content)


def test_publish_cas_semantics(tmp_path):
    c = coordination.LocalFSCoordinator()
    tmp = str(tmp_path / ".tmp1")
    final = str(tmp_path / "v1.json")
    _write(tmp, "A")
    assert c.publish(tmp, final) is True
    tmp2 = str(tmp_path / ".tmp2")
    _write(tmp2, "B")
    assert c.publish(tmp2, final) is False  # CAS miss, never a torn file
    assert open(final).read() == "A"


def test_mutex_acquire_release_and_busy(tmp_path):
    lock = str(tmp_path / ".lock_t")
    with coordination.mutex(lock, wait_s=1.0):
        assert coordination.get_coordinator().holder(lock) == os.getpid()
        # second taker times out with the holder pid in the error
        with pytest.raises(TimeoutError, match=str(os.getpid())):
            with coordination.mutex(lock, wait_s=0.2):
                pass
    assert not os.path.exists(lock)


def test_mutex_busy_error_factory(tmp_path):
    lock = str(tmp_path / ".lock_t")

    class Busy(Exception):
        pass

    with coordination.mutex(lock, wait_s=1.0):
        with pytest.raises(Busy, match="held"):
            with coordination.mutex(
                lock, wait_s=0.1, busy_error=lambda pid: Busy(f"held by {pid}")
            ):
                pass


def test_dead_holder_is_reclaimed(tmp_path):
    lock = str(tmp_path / ".lock_t")
    _write(lock, str(DEAD_PID))
    with coordination.mutex(lock, wait_s=2.0):
        assert coordination.get_coordinator().holder(lock) == os.getpid()


def test_sidecar_of_live_waiter_survives_ageout(tmp_path):
    """ADVICE r8: an mtime age-out could unlink a LIVE waiter's sidecar
    during a stall, and that waiter's cleanup would then remove the
    next owner's fresh sidecar. The pid-verified age-out must leave a
    live owner's sidecar alone no matter how old it looks."""
    c = coordination.LocalFSCoordinator()
    lock = str(tmp_path / ".lock_t")
    rpath = f"{lock}.reclaim"
    _write(lock, str(DEAD_PID))  # a dead rewriter to reclaim
    _write(rpath, str(os.getpid()))  # a LIVE waiter mid-reclaim
    os.utime(rpath, (1, 1))  # arbitrarily old mtime — must not matter
    c.reclaim_if_dead(lock)
    assert os.path.exists(rpath), "live waiter's sidecar was stolen"
    assert os.path.exists(lock), "reclaim proceeded without the sidecar"


def test_sidecar_of_dead_waiter_is_aged_out(tmp_path):
    """A waiter that CRASHED mid-reclaim must not wedge reclamation:
    its sidecar (dead recorded pid) is removed, and the next call
    through completes the reclaim."""
    c = coordination.LocalFSCoordinator()
    lock = str(tmp_path / ".lock_t")
    rpath = f"{lock}.reclaim"
    _write(lock, str(DEAD_PID))
    _write(rpath, str(DEAD_PID + 1))
    c.reclaim_if_dead(lock)  # first call clears the dead sidecar
    assert not os.path.exists(rpath)
    c.reclaim_if_dead(lock)  # second call performs the reclaim
    assert not os.path.exists(lock)


def test_reclaim_cleanup_leaves_stolen_sidecar(tmp_path):
    """The finally-unlink removes the sidecar only while it still
    records THIS pid — if ownership moved mid-stall, the new owner's
    file survives."""
    c = coordination.LocalFSCoordinator()
    rpath = str(tmp_path / ".lock_t.reclaim")
    _write(rpath, str(DEAD_PID))  # someone else's sidecar
    assert c.holder(rpath) != os.getpid()
    # emulate the finally branch directly: ownership check says no
    if c.holder(rpath) == os.getpid():  # pragma: no cover
        os.unlink(rpath)
    assert os.path.exists(rpath)


def test_live_holder_is_not_reclaimed(tmp_path):
    c = coordination.LocalFSCoordinator()
    lock = str(tmp_path / ".lock_t")
    _write(lock, str(os.getpid()))  # alive (it is us)
    c.reclaim_if_dead(lock)
    assert os.path.exists(lock)


def test_set_coordinator_swaps_backend(tmp_path):
    """The multi-driver swap surface: a coordinator with the same
    three-primitive shape slots in without touching callers."""
    calls = []

    class Recording(coordination.LocalFSCoordinator):
        def publish(self, tmp, final):
            calls.append(("publish", final))
            return super().publish(tmp, final)

    orig = coordination.get_coordinator()
    coordination.set_coordinator(Recording())
    try:
        tmp = str(tmp_path / ".t")
        _write(tmp, "x")
        assert coordination.get_coordinator().publish(tmp, str(tmp_path / "f"))
        assert calls == [("publish", str(tmp_path / "f"))]
    finally:
        coordination.set_coordinator(orig)


def test_cross_process_commit_cas(tmp_path):
    """TWO PROCESSES hammer lock-free appends at one manifest: the
    os.link CAS (coordination.publish) must serialize them with zero
    lost adds — the property every concurrent-append claim reduces
    to, tested across real process boundaries rather than threads."""
    import subprocess
    import sys
    import textwrap

    from zestdb_spark import snapshots

    table = str(tmp_path / "t")
    os.makedirs(table)
    n = 25

    def add_files(prefix: str) -> None:
        for i in range(n):
            with open(os.path.join(table, f"{prefix}-{i}.parquet"), "w") as f:
                f.write("x")

    add_files("p")
    add_files("c")

    child_src = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from zestdb_spark import snapshots
        for i in range({n}):
            snapshots.commit({table!r}, adds=[f"c-{{i}}.parquet"], op="append")
    """)
    child = subprocess.Popen([sys.executable, "-c", child_src])
    try:
        for i in range(n):
            snapshots.commit(table, adds=[f"p-{i}.parquet"], op="append")
    finally:
        rc = child.wait(timeout=120)
    assert rc == 0
    snap = snapshots.latest(table)
    expected = {f"p-{i}.parquet" for i in range(n)} | {
        f"c-{i}.parquet" for i in range(n)
    }
    assert set(snap.files) == expected, "an add was lost under CAS contention"
    # versions are strictly sequential from 0: 2n commits -> head 2n-1
    assert snap.version == 2 * n - 1
