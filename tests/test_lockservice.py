"""The lock-service coordination backend (lockserver.py): the same
safety properties test_coordination.py pins for the local-FS backend,
driven through a real TCP lock service — cross-process mutual
exclusion, CAS publish with exactly one winner, kill -9 lease
recovery, and a store-level zero-lost-adds run. This is the evidence
that the multi-driver swap (SCALE.md "Coordination") is tested, not
hypothetical."""

from __future__ import annotations

import os
import signal
import subprocess
import sys
import textwrap
import time

import pytest

from zestdb_spark import coordination
from zestdb_spark.lockserver import LockServer, ServiceCoordinator

#: the repo this test file lives in — child processes import it, not
#: whatever copy happens to be installed or checked out elsewhere
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def server():
    srv = LockServer().start()
    yield srv
    srv.shutdown()


def _write(path: str, content: str) -> None:
    with open(path, "w") as f:
        f.write(content)


def test_publish_exactly_one_winner(server, tmp_path):
    c = ServiceCoordinator(server.addr)
    final = str(tmp_path / "v0.json")
    wins = 0
    for i in range(8):
        tmp = str(tmp_path / f".t{i}")
        _write(tmp, f"attempt {i}")
        if c.publish(tmp, final):
            wins += 1
    assert wins == 1
    assert open(final).read() == "attempt 0"


def test_publish_refuses_preexisting_final(server, tmp_path):
    """A fresh service (empty in-memory state) must still lose the CAS
    against a final that already exists on disk from an older epoch —
    publish re-validates against the filesystem."""
    c = ServiceCoordinator(server.addr)
    final = str(tmp_path / "v1.json")
    _write(final, "old epoch")
    tmp = str(tmp_path / ".t")
    _write(tmp, "new")
    assert not c.publish(tmp, final)
    assert open(final).read() == "old epoch"


def test_mutex_over_service_and_release(server, tmp_path):
    c = ServiceCoordinator(server.addr)
    orig = coordination.get_coordinator()
    coordination.set_coordinator(c)
    try:
        path = str(tmp_path / "m.lock")
        with coordination.mutex(path, wait_s=5.0):
            assert c.is_held(path)
            # a second client sees BUSY
            c2 = ServiceCoordinator(server.addr)
            assert not c2.try_acquire(path)
        assert not c.is_held(path)  # released on exit
    finally:
        coordination.set_coordinator(orig)


def test_cross_process_mutex_no_lost_updates(server, tmp_path):
    """TWO PROCESSES increment one counter file under the service
    mutex: every increment must survive — mutual exclusion across
    real process boundaries through the TCP service."""
    counter = str(tmp_path / "counter")
    _write(counter, "0")
    n = 40
    host, port = server.addr

    child_src = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from zestdb_spark import coordination
        from zestdb_spark.lockserver import ServiceCoordinator
        coordination.set_coordinator(ServiceCoordinator(({host!r}, {port})))
        for _ in range({n}):
            with coordination.mutex({str(tmp_path / 'c.lock')!r}, wait_s=30.0):
                v = int(open({counter!r}).read())
                open({counter!r}, "w").write(str(v + 1))
    """)
    child = subprocess.Popen([sys.executable, "-c", child_src])
    orig = coordination.get_coordinator()
    coordination.set_coordinator(ServiceCoordinator(server.addr))
    try:
        for _ in range(n):
            with coordination.mutex(str(tmp_path / "c.lock"), wait_s=30.0):
                v = int(open(counter).read())
                _write(counter, str(v + 1))
    finally:
        rc = child.wait(timeout=120)
        coordination.set_coordinator(orig)
    assert rc == 0
    assert int(open(counter).read()) == 2 * n


def test_kill9_lease_recovery(server, tmp_path):
    """A writer that dies WITHOUT unlocking (kill -9 — no finally, no
    atexit) must free its lock by lease expiry, with no pid probing:
    the crash-recovery story that works across hosts."""
    host, port = server.addr
    lock = str(tmp_path / "dead.lock")
    child_src = textwrap.dedent(f"""
        import sys, time
        sys.path.insert(0, {ROOT!r})
        from zestdb_spark.lockserver import ServiceCoordinator
        c = ServiceCoordinator(({host!r}, {port}), lease_s=2.0)
        assert c.try_acquire({lock!r})
        print("HELD", flush=True)
        time.sleep(60)
    """)
    child = subprocess.Popen([sys.executable, "-c", child_src], stdout=subprocess.PIPE)
    assert child.stdout.readline().strip() == b"HELD"
    me = ServiceCoordinator(server.addr, lease_s=2.0)
    assert not me.try_acquire(lock)  # genuinely held
    os.kill(child.pid, signal.SIGKILL)
    child.wait(timeout=30)
    deadline = time.monotonic() + 10.0
    got = False
    while time.monotonic() < deadline:
        if me.try_acquire(lock):
            got = True
            break
        time.sleep(0.2)
    assert got, "lease did not expire after holder was killed"


def test_store_commits_through_service_lose_nothing(server, tmp_path):
    """The store-level end-to-end: TWO PROCESSES hammer manifest
    commits with the SERVICE arbitrating the CAS — zero lost adds,
    strictly sequential versions (the same property the local-FS
    backend pins in test_coordination.py, now through TCP)."""
    from zestdb_spark import snapshots

    table = str(tmp_path / "t")
    os.makedirs(table)
    n = 25
    host, port = server.addr
    for prefix in ("p", "c"):
        for i in range(n):
            _write(os.path.join(table, f"{prefix}-{i}.parquet"), "x")

    child_src = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from zestdb_spark import coordination, snapshots
        from zestdb_spark.lockserver import ServiceCoordinator
        coordination.set_coordinator(ServiceCoordinator(({host!r}, {port})))
        for i in range({n}):
            snapshots.commit({table!r}, adds=[f"c-{{i}}.parquet"], op="append")
    """)
    child = subprocess.Popen([sys.executable, "-c", child_src])
    orig = coordination.get_coordinator()
    coordination.set_coordinator(ServiceCoordinator(server.addr))
    try:
        for i in range(n):
            snapshots.commit(table, adds=[f"p-{i}.parquet"], op="append")
    finally:
        rc = child.wait(timeout=120)
        coordination.set_coordinator(orig)
    assert rc == 0
    snap = snapshots.latest(table)
    expected = {f"p-{i}.parquet" for i in range(n)} | {
        f"c-{i}.parquet" for i in range(n)
    }
    assert set(snap.files) == expected
    assert snap.version == 2 * n - 1


def test_long_hold_outlives_lease_via_renewal(server, tmp_path):
    """A LIVE holder working past its lease must keep the lock (the
    heartbeat renews at lease/3); only a DEAD holder expires. Short
    lease, hold 4x longer, a contender probing throughout must stay
    locked out until release."""
    lock = str(tmp_path / "long.lock")
    holder = ServiceCoordinator(server.addr, lease_s=0.6)
    contender = ServiceCoordinator(server.addr, lease_s=0.6)
    assert holder.try_acquire(lock)
    deadline = time.monotonic() + 2.4  # 4 leases
    while time.monotonic() < deadline:
        assert not contender.try_acquire(lock), "live holder was stolen from"
        time.sleep(0.1)
    holder.remove(lock)
    assert contender.try_acquire(lock)
    contender.remove(lock)


def test_renew_retries_transient_rpc_failures(server, tmp_path):
    """ADVICE r9: one dropped connection must not abandon the
    heartbeat — during a sub-lease-window RPC outage the renew loop
    retries on a short interval, the lease stays alive, no contender
    gets in, and the loss flag never latches."""
    lock = str(tmp_path / "flaky.lock")
    holder = ServiceCoordinator(server.addr, lease_s=1.2)
    contender = ServiceCoordinator(server.addr, lease_s=1.2)
    real_rpc = holder._rpc
    outage_end = time.monotonic() + 0.8  # < the 1.2 s lease window

    def flaky(line):
        if line.startswith("RENEW") and time.monotonic() < outage_end:
            raise OSError("connection dropped")
        return real_rpc(line)

    holder._rpc = flaky
    assert holder.try_acquire(lock)
    deadline = time.monotonic() + 2.4  # through the outage and past it
    while time.monotonic() < deadline:
        assert not contender.try_acquire(lock), "lease lost to a transient RPC failure"
        time.sleep(0.1)
    holder.assert_held(lock)  # no loss latched
    holder.remove(lock)
    assert contender.try_acquire(lock)
    contender.remove(lock)


def test_lease_loss_latches_and_blocks_commit(server, tmp_path):
    """When the service definitively reports the lease gone (state
    lost to a restart, or expired and re-granted), the loss latches
    and the commit-boundary guard raises LeaseLost instead of letting
    the holder's read-modify-write race the next owner."""
    lock = str(tmp_path / "lost.lock")
    holder = ServiceCoordinator(server.addr, lease_s=0.4)
    assert holder.try_acquire(lock)
    # simulate a service restart: in-memory lease state vanishes
    with server.state.guard:
        server.state.locks.clear()
    deadline = time.monotonic() + 3.0
    while time.monotonic() < deadline:
        try:
            holder.assert_held(lock)
        except coordination.LeaseLost:
            break
        time.sleep(0.05)
    with pytest.raises(coordination.LeaseLost):
        holder.assert_held(lock)
    # the composite guard sees it through the configured coordinator
    old = coordination.get_coordinator()
    coordination.set_coordinator(holder)
    try:
        with pytest.raises(coordination.LeaseLost):
            coordination.assert_lease(lock)
        # untracked paths (lock-free appends) are never blocked
        coordination.assert_lease(str(tmp_path / "other.lock"))
    finally:
        coordination.set_coordinator(old)
    holder.remove(lock)


def test_assert_held_scoped_to_acquiring_thread(server, tmp_path):
    """ADVICE r10: a lost lease must abort only the CONTEXT that
    acquired the mutex. A lock-free append committed from another
    thread of the same process never staked anything on the lease (it
    serializes through the publish CAS) and proceeds untouched."""
    import threading
    import warnings

    lock = str(tmp_path / "scoped.lock")
    holder = ServiceCoordinator(server.addr, lease_s=0.4)
    assert holder.try_acquire(lock)
    with server.state.guard:  # service restart: the loss will latch
        server.state.locks.clear()
    deadline = time.monotonic() + 3.0
    while time.monotonic() < deadline:
        if holder._tokens[lock][2].is_set():
            break
        time.sleep(0.05)
    assert holder._tokens[lock][2].is_set(), "loss never latched"
    # acquiring thread (this one): blocked at the commit boundary
    with pytest.raises(coordination.LeaseLost):
        holder.assert_held(lock)
    # any OTHER thread of the same process: not blocked, but the
    # degradation is LOUD (ADVICE r11) — a RuntimeWarning flags that
    # the lost-lease abort did not apply to this caller
    errs: list[BaseException] = []
    warns: list[warnings.WarningMessage] = []

    def other_thread_commit():
        try:
            with warnings.catch_warnings(record=True) as w:
                warnings.simplefilter("always")
                holder.assert_held(lock)
            warns.extend(w)
        except BaseException as e:  # pragma: no cover - failure path
            errs.append(e)

    t = threading.Thread(target=other_thread_commit)
    t.start()
    t.join()
    assert not errs, f"unrelated thread was aborted: {errs}"
    assert any(
        issubclass(w.category, RuntimeWarning) for w in warns
    ), "cross-thread assert_held must warn that the abort did not apply"
    holder.remove(lock)


def test_assert_held_distrusts_stale_lease_before_expiry(server, tmp_path):
    """ADVICE r10: the commit boundary stops trusting a lease at a
    MARGIN before server-side expiry — when the last successful renew
    is older than the trust deadline — even though the heartbeat loop
    is still retrying and the full-window loss latch has not fired.
    Latching only at last_ok + lease_s left an RPC-latency window
    where the server had expired and re-granted while assert_held
    still passed."""
    lock = str(tmp_path / "stale.lock")
    holder = ServiceCoordinator(server.addr, lease_s=30.0)
    assert holder.try_acquire(lock)
    token, stop, lost, tid, last_ok = holder._tokens[lock]
    assert holder._trust_deadline() < holder.lease_s
    # fresh renew: trusted
    holder.assert_held(lock)
    # rewind the stamp to just inside the distrust margin — without
    # latching loss (the heartbeat may yet recover; commits must not)
    last_ok[0] = time.monotonic() - holder._trust_deadline() - 0.01
    assert not lost.is_set()
    with pytest.raises(coordination.LeaseLost, match="trust"):
        holder.assert_held(lock)
    # a successful renew restores trust automatically
    last_ok[0] = time.monotonic()
    holder.assert_held(lock)
    holder.remove(lock)
