"""Snapshot manifest log (zestdb_spark/snapshots.py): the single-node
table format that replaces the reference's git/Irmin transactional
store (src/timeseries/shard.re:9-11). Pure-filesystem tests for the
commit CAS, the empty state of a table with no log, the
tombstone/vacuum lifecycle, and the orphan-age floor protecting
lock-free appends; plus store-level tests for concurrent append
merging and crashed appends."""

from __future__ import annotations

import json
import os
import threading
import time

import pytest

from zestdb_spark import snapshots


def _touch(base: str, rel: str, content: bytes = b"x") -> None:
    full = os.path.join(base, rel)
    os.makedirs(os.path.dirname(full), exist_ok=True)
    with open(full, "wb") as f:
        f.write(content)


def test_commit_and_latest_roundtrip(tmp_path):
    t = str(tmp_path / "t")
    _touch(t, "id=a/f1.parquet")
    snap = snapshots.commit(t, adds=["id=a/f1.parquet"])
    assert snap.version == 0 and snap.files == ["id=a/f1.parquet"]
    _touch(t, "id=b/f2.parquet")
    snap = snapshots.commit(t, adds=["id=b/f2.parquet"])
    assert snap.version == 1 and len(snap.files) == 2
    assert snapshots.latest(t).files == snap.files


def test_removes_become_tombstones(tmp_path):
    t = str(tmp_path / "t")
    _touch(t, "f1.parquet")
    _touch(t, "f2.parquet")
    snapshots.commit(t, adds=["f1.parquet", "f2.parquet"])
    snap = snapshots.commit(t, removes=["f1.parquet"])
    assert snap.files == ["f2.parquet"]
    assert "f1.parquet" in snap.tombstones
    # the file is STILL ON DISK (pinned readers), only off the manifest
    assert os.path.exists(os.path.join(t, "f1.parquet"))


def test_first_commit_starts_from_the_empty_set(tmp_path):
    """A table with no log is the empty version -1, whatever its
    directory holds; the first commit publishes exactly its own adds
    as version 0, a full checkpoint."""
    t = str(tmp_path / "t")
    _touch(t, "series_id=a/time_bucket=0/part-1.parquet")  # staged, never committed
    _touch(t, "new.parquet")
    empty = snapshots.latest(t)
    assert (empty.version, empty.files, empty.tombstones) == (-1, [], {})
    snap = snapshots.commit(t, adds=["new.parquet"])
    assert snap.version == 0 and snap.files == ["new.parquet"]
    doc = json.load(open(os.path.join(t, "_zest_log", "v%012d.json" % 0)))
    assert doc["files"] == ["new.parquet"] and not doc.get("delta")
    # vacuum leaves a never-committed directory alone
    u = str(tmp_path / "u")
    _touch(u, "old.parquet")
    past = time.time() - snapshots.ORPHAN_MIN_AGE_S - 10
    os.utime(os.path.join(u, "old.parquet"), (past, past))
    assert snapshots.vacuum(u, retention_s=0) == (0, 0)
    assert os.path.exists(os.path.join(u, "old.parquet"))


def test_commit_cas_merges_concurrent_adders(tmp_path):
    """Two lock-free appenders racing on the same table must BOTH land:
    the os.link CAS gives one of them a conflict, it retries on the
    moved head, and the final manifest holds both file sets."""
    t = str(tmp_path / "race")
    n_threads, per_thread = 16, 8
    for i in range(n_threads):
        for j in range(per_thread):
            _touch(t, f"id=t{i}/f{j}.parquet")
    barrier = threading.Barrier(n_threads)

    def add(i: int) -> None:
        barrier.wait()
        for j in range(per_thread):
            snapshots.commit(t, adds=[f"id=t{i}/f{j}.parquet"])

    threads = [threading.Thread(target=add, args=(i,)) for i in range(n_threads)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    snap = snapshots.latest(t)
    assert len(snap.files) == n_threads * per_thread
    assert snap.version == n_threads * per_thread - 1  # every commit landed


def test_manifest_files_are_complete_or_absent(tmp_path):
    """The publish is link-based: every version file that EXISTS parses
    as complete JSON (no torn manifests), even right after a commit."""
    t = str(tmp_path / "complete")
    _touch(t, "f.parquet")
    snapshots.commit(t, adds=["f.parquet"])
    log_dir = os.path.join(t, "_zest_log")
    for name in os.listdir(log_dir):
        if name.endswith(".json"):
            json.load(open(os.path.join(log_dir, name)))  # must not raise


def test_vacuum_respects_retention_and_orphan_floor(tmp_path):
    t = str(tmp_path / "vac")
    _touch(t, "live.parquet")
    _touch(t, "dead.parquet")
    snapshots.commit(t, adds=["live.parquet", "dead.parquet"])
    snapshots.commit(t, removes=["dead.parquet"])
    _touch(t, "orphan.parquet")  # staged by a 'crashed writer', fresh

    # long retention: nothing reclaimed
    assert snapshots.vacuum(t, retention_s=3600) == (0, 0)
    assert os.path.exists(os.path.join(t, "dead.parquet"))

    # zero retention: the tombstone goes; the FRESH orphan survives the
    # ORPHAN_MIN_AGE floor (it may be an in-flight append's staging)
    deleted, orphans = snapshots.vacuum(t, retention_s=0)
    assert deleted == 1 and orphans == 0
    assert not os.path.exists(os.path.join(t, "dead.parquet"))
    assert os.path.exists(os.path.join(t, "orphan.parquet"))
    assert "dead.parquet" not in snapshots.latest(t).tombstones

    # an OLD orphan is reclaimed once past the floor
    old = os.path.join(t, "orphan.parquet")
    past = time.time() - snapshots.ORPHAN_MIN_AGE_S - 10
    os.utime(old, (past, past))
    deleted, orphans = snapshots.vacuum(t, retention_s=0)
    assert orphans == 1 and not os.path.exists(old)


def test_vacuum_prunes_emptied_partition_dirs(tmp_path):
    t = str(tmp_path / "prune")
    _touch(t, "series_id=a/time_bucket=0/f.parquet")
    _touch(t, "series_id=b/time_bucket=0/g.parquet")
    snapshots.commit(
        t,
        adds=["series_id=a/time_bucket=0/f.parquet", "series_id=b/time_bucket=0/g.parquet"],
    )
    snapshots.commit(t, removes=["series_id=a/time_bucket=0/f.parquet"])
    snapshots.vacuum(t, retention_s=0)
    assert not os.path.isdir(os.path.join(t, "series_id=a"))
    assert os.path.isdir(os.path.join(t, "series_id=b"))
    assert os.path.isdir(os.path.join(t, "_zest_log"))  # the log stays


def test_history_and_read_version(tmp_path):
    t = str(tmp_path / "hist")
    _touch(t, "f1.parquet")
    snapshots.commit(t, adds=["f1.parquet"], op="append")
    _touch(t, "f2.parquet")
    snapshots.commit(t, adds=["f2.parquet"], op="append")
    snapshots.commit(t, removes=["f1.parquet"], op="delete")
    hist = snapshots.history(t)
    assert [s.version for s in hist] == [2, 1, 0]
    assert [s.op for s in hist] == ["delete", "append", "append"]
    assert all(s.created_ms > 0 for s in hist)
    assert snapshots.read_version(t, 1).files == ["f1.parquet", "f2.parquet"]
    assert snapshots.read_version(t, 99) is None


def test_readd_prunes_tombstone(tmp_path):
    """A file re-added by a later commit (restore) is live again — its
    tombstone must go, or vacuum would delete live data."""
    t = str(tmp_path / "readd")
    _touch(t, "f1.parquet")
    snapshots.commit(t, adds=["f1.parquet"])
    snapshots.commit(t, removes=["f1.parquet"])
    snap = snapshots.commit(t, adds=["f1.parquet"], op="restore")
    assert snap.files == ["f1.parquet"] and "f1.parquet" not in snap.tombstones
    snapshots.vacuum(t, retention_s=0)
    assert os.path.exists(os.path.join(t, "f1.parquet"))


def test_aggressive_vacuum_keeps_recent_manifests(tmp_path):
    """compact's retention_s=0 vacuum reclaims tombstoned BYTES but
    must not erase the recent history log (manifests keep the
    orphan-age floor)."""
    t = str(tmp_path / "keeplog")
    _touch(t, "f1.parquet")
    _touch(t, "f2.parquet")
    snapshots.commit(t, adds=["f1.parquet"])
    snapshots.commit(t, adds=["f2.parquet"], removes=["f1.parquet"])
    snapshots.vacuum(t, retention_s=0)
    assert not os.path.exists(os.path.join(t, "f1.parquet"))  # bytes gone
    assert len(snapshots.history(t)) >= 2  # fresh manifests retained


# --------------------------------------------------- store-level paths


def test_concurrent_store_appends_both_land(spark, tmp_path):
    """Lock-free append concurrency end-to-end: two threads appending
    to the same TS table through the same store race only on the
    manifest CAS — both batches must be readable afterward."""
    from zestdb_spark.storage import ZestStore

    st = ZestStore(spark, str(tmp_path / "races"))
    st.write_numeric("seed", {"value": 0.0}, 1)  # create table + manifest
    errs = []

    def write(series: str, base: int) -> None:
        try:
            for i in range(3):
                st.write_numeric(series, {"value": float(i)}, base + i)
        except Exception as e:  # surfaced below
            errs.append(e)

    t1 = threading.Thread(target=write, args=("x", 1000))
    t2 = threading.Thread(target=write, args=("y", 2000))
    t1.start(), t2.start()
    t1.join(), t2.join()
    assert not errs
    rows = st.load("ts_numeric").count()
    assert rows == 7


@pytest.mark.parametrize("first", [True, False], ids=["first_append", "later_append"])
def test_append_crash_before_commit_is_invisible(spark, tmp_path, monkeypatch, first):
    """An append killed between staging its files and committing the
    manifest contributes NOTHING to reads (atomic multi-partition
    appends — the plain-parquet layout could expose a partial batch),
    also when it is the table's first append and no log exists yet."""
    from zestdb_spark.storage import ZestStore

    st = ZestStore(spark, str(tmp_path / "appcrash"))
    seed = [] if first else [1.0]
    for v in seed:
        st.write_numeric("a", {"value": v}, 1000)

    real_commit = ZestStore._commit

    def crash(self, table, adds=(), removes=(), op="", txn=None):
        raise RuntimeError("simulated crash before the append commit")

    monkeypatch.setattr(ZestStore, "_commit", crash)
    with pytest.raises(RuntimeError):
        st.write_numeric("a", {"value": 2.0}, 90_000_000)
    monkeypatch.setattr(ZestStore, "_commit", real_commit)

    assert [r.value for r in st.load("ts_numeric").collect()] == seed
    # the retried append converges; the orphaned staged file stays
    # invisible until vacuum reclaims it
    st.write_numeric("a", {"value": 2.0}, 90_000_000)
    assert sorted(r.value for r in st.load("ts_numeric").collect()) == seed + [2.0]


def test_time_travel_and_restore(spark, tmp_path):
    """load(version=) pins a past snapshot; restore() rolls back as a
    NEW commit (history is never rewritten) and can itself be undone."""
    from zestdb_spark.api import ZestEngine
    from zestdb_spark.errors import BadRequest

    eng = ZestEngine(spark, str(tmp_path / "tt"))
    st = eng.store
    day = 86_400_000
    eng.post("/ts/a/at/100", {"value": 1.0})             # v0
    eng.post(f"/ts/a/at/{day + 100}", {"value": 2.0})    # v1
    eng.delete("/ts/a/since/0")                          # v2: empty

    assert st.load("ts_numeric").count() == 0
    assert [r.value for r in st.load("ts_numeric", version=0).collect()] == [1.0]
    assert sorted(
        r.value for r in st.load("ts_numeric", version=1).collect()
    ) == [1.0, 2.0]

    ops = {s.version: s.op for s in st.history("ts_numeric")}
    assert ops[0] == "append" and ops[2] == "delete"

    snap = st.restore("ts_numeric", 1)
    assert snap.op == "restore"
    assert sorted(r.value for r in st.load("ts_numeric").collect()) == [1.0, 2.0]
    # the rollback is itself a commit — roll IT back too
    st.restore("ts_numeric", 2)
    assert st.load("ts_numeric").count() == 0

    with pytest.raises(BadRequest):
        st.load("ts_numeric", version=99)


def test_time_travel_fails_loudly_after_vacuum(spark, tmp_path):
    """A version whose files were reclaimed must refuse the read/restore
    upfront, not fail deep in a scan."""
    from zestdb_spark.api import ZestEngine
    from zestdb_spark.errors import BadRequest

    eng = ZestEngine(spark, str(tmp_path / "ttv"))
    st = eng.store
    eng.post("/ts/a/at/100", {"value": 1.0})   # v0
    eng.delete("/ts/a/since/0")                # v1: tombstones v0's file
    st.vacuum("ts_numeric", retention_s=0.0)   # reclaims the bytes
    with pytest.raises(BadRequest, match="reclaimed"):
        st.load("ts_numeric", version=0).collect()
    with pytest.raises(BadRequest, match="reclaimed"):
        st.restore("ts_numeric", 0)


# ------------------------------------------------ model-based property

from hypothesis import given, settings, strategies as st  # noqa: E402

# an op is ("add", n_new_files) | ("remove", which_live_indices) |
# ("vacuum", aggressive)
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("add"), st.integers(1, 4)),
        st.tuples(st.just("remove"), st.sets(st.integers(0, 30), max_size=5)),
        st.tuples(st.just("vacuum"), st.booleans()),
    ),
    min_size=1,
    max_size=12,
)


@given(ops=_OPS)
@settings(max_examples=60, deadline=None)
def test_log_matches_model_under_random_op_sequences(ops):
    """The manifest log against a pure-Python model: after every
    commit, live files and tombstones match the model exactly; vacuum
    NEVER deletes a live file's bytes, and an aggressive vacuum
    reclaims exactly the tombstoned ones."""
    import tempfile

    root = tempfile.mkdtemp(prefix="snap_model_")
    live: set[str] = set()
    tombs: set[str] = set()
    counter = 0
    for op, arg in ops:
        if op == "add":
            new = []
            for _ in range(arg):
                rel = f"id=p{counter % 3}/f{counter}.parquet"
                counter += 1
                _touch(root, rel)
                new.append(rel)
            snap = snapshots.commit(root, adds=new, op="append")
            live |= set(new)
            tombs -= set(new)  # re-adds resurrect
        elif op == "remove":
            ordered = sorted(live)
            victims = {ordered[i % len(ordered)] for i in arg} if ordered else set()
            if not victims:
                continue
            snap = snapshots.commit(root, removes=sorted(victims), op="delete")
            live -= victims
            tombs |= victims
        else:
            snapshots.vacuum(root, retention_s=0 if arg else 3600)
            if arg:
                tombs = set()
            snap = snapshots.latest(root)
            if snap is None:
                continue
        assert set(snap.files) == live
        assert set(snap.tombstones) <= tombs | live  # vacuum may lag a commit
        # every live file's bytes are on disk, always
        for rel in live:
            assert os.path.exists(os.path.join(root, rel)), rel
    # final aggressive vacuum: exactly the dead bytes are gone
    snapshots.vacuum(root, retention_s=0)
    on_disk = set(snapshots.list_data_files(root))
    assert live <= on_disk  # live survives (fresh orphans may linger)
    final = snapshots.latest(root)
    if final is not None:
        assert not final.tombstones


def test_change_feed_appends_deletes_and_compaction(spark, tmp_path):
    """changes(from, to) is the NET row diff: appends are inserts, a
    partial delete reports ONLY the removed rows (survivors a rewrite
    re-materialized cancel out), and compaction — pure re-layout —
    reports nothing."""
    from zestdb_spark.api import ZestEngine

    eng = ZestEngine(spark, str(tmp_path / "cdf"))
    st = eng.store
    for t in (100, 200, 300):
        eng.post(f"/ts/a/at/{t}", {"value": float(t)})
    v_loaded = st.history("ts_numeric")[0].version

    # append-only range: all inserts, no comparison needed
    cf = st.changes("ts_numeric", 0, v_loaded)
    got = {(r.timestamp, r._change_type) for r in cf.collect()}
    assert got == {(200, "insert"), (300, "insert")}

    # partial delete: exactly the removed row, as a delete
    eng.delete("/ts/a/range/150/250")
    v_del = st.history("ts_numeric")[0].version
    cf = st.changes("ts_numeric", v_loaded, v_del)
    assert [(r.timestamp, r.value, r._change_type) for r in cf.collect()] == [
        (200, 200.0, "delete")
    ]

    # compaction (bytes retained) is invisible to the feed
    eng.post("/ts/a/at/400", {"value": 400.0})
    st.compact("ts_numeric", vacuum_retention_s=3600)
    v_now = st.history("ts_numeric")[0].version
    got = {(r.timestamp, r._change_type) for r in st.changes("ts_numeric", v_del, v_now).collect()}
    assert got == {(400, "insert")}

    # full span collapses to the net content change
    got = {(r.timestamp, r._change_type) for r in st.changes("ts_numeric", 0).collect()}
    assert got == {(300, "insert"), (400, "insert")}


def test_change_feed_refuses_vacuumed_range(spark, tmp_path):
    from zestdb_spark.api import ZestEngine
    from zestdb_spark.errors import BadRequest

    eng = ZestEngine(spark, str(tmp_path / "cdfv"))
    eng.post("/ts/a/at/100", {"value": 1.0})
    eng.delete("/ts/a/since/0")
    eng.store.vacuum("ts_numeric", retention_s=0.0)
    with pytest.raises(BadRequest, match="reclaimed"):
        eng.store.changes("ts_numeric", 0, 1).collect()


def test_kv_namespace_time_travel_and_changes(spark, tmp_path):
    """The manifest features work on the id-partitioned KV layout too:
    pin the pre-delete version, diff the namespace rewrite."""
    from zestdb_spark.api import ZestEngine

    eng = ZestEngine(spark, str(tmp_path / "kvtt"))
    st = eng.store
    eng.post("/kv/ns1/k1", {"v": 1})
    eng.post("/kv/ns1/k2", {"v": 2})
    eng.post("/kv/ns2/k1", {"v": 3})
    pre = st.history("kv_json")[0].version
    eng.delete("/kv/ns1/k1")

    old = {(r.id, r.key) for r in st.load("kv_json", version=pre).collect()}
    assert old == {("ns1", "k1"), ("ns1", "k2"), ("ns2", "k1")}
    now = {(r.id, r.key) for r in st.load("kv_json").collect()}
    assert now == {("ns1", "k2"), ("ns2", "k1")}

    # the namespace rewrite re-materialized k2 — it must cancel, and
    # ns2 (untouched partition) must not even be read
    diff = [(r.id, r.key, r._change_type) for r in st.changes("kv_json", pre).collect()]
    assert diff == [("ns1", "k1", "delete")]

    st.restore("kv_json", pre)
    assert {(r.id, r.key) for r in st.load("kv_json").collect()} == old


def test_history_df_surface(spark, tmp_path):
    from zestdb_spark.api import ZestEngine

    eng = ZestEngine(spark, str(tmp_path / "hdf"))
    eng.post("/ts/a/at/100", {"value": 1.0})
    eng.post("/ts/a/at/200", {"value": 2.0})
    eng.delete("/ts/a/range/150/250")
    df = eng.store.history_df("ts_numeric")
    rows = {r.version: r for r in df.collect()}
    assert rows[0].op == "append" and rows[2].op == "delete"
    assert rows[2].n_tombstones > 0 and all(r.created_ms > 0 for r in rows.values())


def test_blob_table_time_travel(spark, tmp_path):
    """ts_blob rides the same manifest machinery."""
    from zestdb_spark.api import ZestEngine

    eng = ZestEngine(spark, str(tmp_path / "blobtt"))
    eng.post("/ts/blob/cam1/at/1000", {"frame": 1})
    pre = eng.store.history("ts_blob")[0].version
    eng.post("/ts/blob/cam1/at/2000", {"frame": 2})
    assert eng.store.load("ts_blob").count() == 2
    assert eng.store.load("ts_blob", version=pre).count() == 1
    diff = eng.store.changes("ts_blob", pre)
    assert [r._change_type for r in diff.collect()] == ["insert"]


# ----------------------------------------------------- delta log entries


def _raw_doc(root, v):
    with open(os.path.join(root, "_zest_log", "v%012d.json" % v)) as f:
        return json.load(f)


def test_delta_entries_between_checkpoints(tmp_path):
    """The log is Delta-shaped: full snapshot at version 0 and every
    CHECKPOINT_EVERY versions, O(churn) delta entries between — and
    every version resolves to exactly the same state either way."""
    d = str(tmp_path / "t")
    n = 2 * snapshots.CHECKPOINT_EVERY + 8
    for i in range(n):
        _touch(d, f"f{i}.parquet")
        snapshots.commit(d, adds=[f"f{i}.parquet"], op="append")
    for v in range(n):
        doc = _raw_doc(d, v)
        assert bool(doc.get("delta")) == (v % snapshots.CHECKPOINT_EVERY != 0)
        if doc.get("delta"):
            assert "files" not in doc  # O(churn) metadata, not O(live)
            assert doc["adds"] == [f"f{v}.parquet"]
    head = snapshots.latest(d)
    assert head.version == n - 1
    assert head.files == sorted(f"f{i}.parquet" for i in range(n))
    # mid-chain time travel replays the delta chain exactly
    mid = snapshots.CHECKPOINT_EVERY + 5
    snap = snapshots.read_version(d, mid)
    assert snap.files == sorted(f"f{i}.parquet" for i in range(mid + 1))
    assert snap.op == "append"


def test_delta_chain_with_removes_and_stats(tmp_path):
    """Removes, re-adds, and per-file stats all replay through delta
    chains bit-for-bit (the writer and reader share one fold)."""
    d = str(tmp_path / "t")
    model_live: dict[str, dict | None] = {}
    states = {}
    for i in range(snapshots.CHECKPOINT_EVERY + 6):
        rel = f"f{i}.parquet"
        _touch(d, rel)
        st = {"rows": 1, "min": {"timestamp": i}, "max": {"timestamp": i}}
        removes = [f"f{i - 2}.parquet"] if i >= 2 and i % 3 == 0 else []
        snapshots.commit(
            d, adds=[rel], removes=removes, stats={rel: st}, op="w"
        )
        model_live[rel] = st
        for r in removes:
            model_live.pop(r, None)
        states[i] = dict(model_live)
    for v, want in states.items():
        snap = snapshots.read_version(d, v)
        assert snap is not None, v
        assert snap.files == sorted(want), v
        assert snap.stats == want, v
    # history() resolves the same states via its incremental fold
    for snap in snapshots.history(d):
        assert snap.files == sorted(states[snap.version])
        assert snap.stats == states[snap.version]


def test_vacuum_never_breaks_delta_chains(tmp_path):
    """Aging out every manifest leaves the head's whole chain intact:
    pruning stops at the checkpoint anchoring the oldest retained
    version, so everything still readable resolves."""
    d = str(tmp_path / "t")
    n = 2 * snapshots.CHECKPOINT_EVERY + 7  # head at v39, checkpoint v32
    for i in range(n):
        _touch(d, f"f{i}.parquet")
        snapshots.commit(d, adds=[f"f{i}.parquet"], op="append")
    # age every version file past any retention
    past = time.time() - 7200
    for v in range(n):
        os.utime(os.path.join(d, "_zest_log", "v%012d.json" % v), (past, past))
    snapshots.vacuum(d, retention_s=0)
    anchor = (n - 1) - (n - 1) % snapshots.CHECKPOINT_EVERY
    for v in range(n):
        snap = snapshots.read_version(d, v)
        if v < anchor:
            assert snap is None, f"v{v} should be pruned"
        else:
            assert snap is not None, f"v{v} must stay resolvable"
            assert snap.files == sorted(f"f{i}.parquet" for i in range(v + 1))
    assert snapshots.latest(d).version == n - 1


def test_resolve_cache_survives_store_rebuild(tmp_path):
    """The resolve cache validates the version FILE identity, so a
    store deleted and rebuilt at the same path never serves stale
    state, and a vacuum-pruned version still reads as None."""
    import shutil

    d = str(tmp_path / "t")
    _touch(d, "old.parquet")
    snapshots.commit(d, adds=["old.parquet"], op="append")
    assert snapshots.read_version(d, 0).files == ["old.parquet"]
    shutil.rmtree(d)
    _touch(d, "new.parquet")
    time.sleep(0.01)  # distinct mtime_ns for the rebuilt log
    snapshots.commit(d, adds=["new.parquet"], op="append")
    assert snapshots.read_version(d, 0).files == ["new.parquet"]
    os.unlink(os.path.join(d, "_zest_log", "v%012d.json" % 0))
    assert snapshots.read_version(d, 0) is None


def test_timestamp_as_of_and_table_stats(spark, tmp_path):
    """TIMESTAMP AS OF resolves against commit times; table_stats
    summarizes from the manifest without scanning data."""
    import time as _time

    import pytest as _pytest

    from zestdb_spark.api import ZestEngine
    from zestdb_spark.errors import BadRequest
    from zestdb_spark.schema import TS_NUMERIC

    eng = ZestEngine(spark, str(tmp_path / "asof"))
    eng.store.write_numeric_bulk(
        spark.createDataFrame([("a", 1000, 1.0, None, None)], TS_NUMERIC)
    )
    t_between = int(_time.time() * 1000)
    _time.sleep(0.05)
    eng.store.write_numeric_bulk(
        spark.createDataFrame([("a", 2000, 2.0, None, None)], TS_NUMERIC)
    )

    v = eng.store.version_at("ts_numeric", t_between)
    rows = eng.store.load("ts_numeric", as_of_ms=t_between).collect()
    assert [r.timestamp for r in rows] == [1000]
    assert v == eng.store.history("ts_numeric")[-1].version
    with _pytest.raises(BadRequest, match="no retained snapshot"):
        eng.store.version_at("ts_numeric", 0)
    with _pytest.raises(BadRequest, match="not both"):
        eng.store.load("ts_numeric", version=v, as_of_ms=t_between)

    stats = eng.store.table_stats("ts_numeric")
    assert stats["n_files"] == 2 and stats["rows"] == 2
    assert stats["bytes"] > 0 and stats["n_tombstones"] == 0
    assert stats["min"]["timestamp"] == 1000
    assert stats["max"]["timestamp"] == 2000


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    import os as _os

    from zestdb_spark import snapshots as _snapshots
    from zestdb_spark.api import ZestEngine
    from zestdb_spark.schema import TS_NUMERIC

    eng = ZestEngine(spark, str(tmp_path / "dry"))
    eng.store.write_numeric_bulk(
        spark.createDataFrame([("a", 1000, 1.0, None, None)], TS_NUMERIC)
    )
    eng.delete("/ts/a/since/0")  # tombstones the file
    table_dir = eng.store._path("ts_numeric")
    before = set(_snapshots.list_data_files(table_dir))

    dead, orphans = eng.store.vacuum("ts_numeric", retention_s=0.0, dry_run=True)
    assert dead == 1 and orphans == 0
    # nothing deleted, no new commit
    assert set(_snapshots.list_data_files(table_dir)) == before
    assert eng.store.history("ts_numeric")[0].op == "delete"

    dead2, _ = eng.store.vacuum("ts_numeric", retention_s=0.0)
    assert dead2 == 1 or not _snapshots.latest(table_dir).tombstones
    assert len(_snapshots.list_data_files(table_dir)) < len(before) or not before
    assert _os.path.isdir(table_dir)


# ---------------------------------------------------------------- r8:
# txn watermarks (idempotent writers), vacuum-vs-rewrite coordination,
# resolve-cache thread safety, stale-lock reclaim mutual exclusion


def test_txn_watermarks_are_atomic_and_monotone(tmp_path):
    """Delta's idempotent-writes recipe: (app_id, n) commits with the
    data; replays and out-of-order stamps never roll the mark back;
    apps track independently."""
    t = str(tmp_path / "txn")
    _touch(t, "f1.parquet")
    s = snapshots.commit(t, adds=["f1.parquet"], txn=("app", 0))
    assert s.txns == {"app": 0}
    _touch(t, "f2.parquet")
    s = snapshots.commit(t, adds=["f2.parquet"], txn=("app", 1))
    assert s.txns["app"] == 1
    _touch(t, "f3.parquet")
    s = snapshots.commit(t, adds=["f3.parquet"], txn=("app", 0))  # replay
    assert s.txns["app"] == 1
    _touch(t, "f4.parquet")
    s = snapshots.commit(t, adds=["f4.parquet"], txn=("other", 7))
    assert s.txns == {"app": 1, "other": 7}
    assert snapshots.latest(t).txns == {"app": 1, "other": 7}


def test_txn_watermarks_survive_checkpoints_and_cold_replay(tmp_path):
    """The watermark must fold through delta entries AND checkpoint
    docs: resolve cold (cache cleared) across 2+ checkpoint intervals."""
    t = str(tmp_path / "txn2")
    n = 2 * snapshots.CHECKPOINT_EVERY + 3
    for i in range(n):
        _touch(t, f"f{i}.parquet")
        snapshots.commit(t, adds=[f"f{i}.parquet"], txn=("app", i))
    snapshots._RESOLVE_CACHE.clear()
    s = snapshots.latest(t)
    assert s.txns["app"] == n - 1
    # and history's incremental fold agrees with the point resolve
    hist = snapshots.history(t)
    assert hist[0].txns["app"] == n - 1


def test_vacuum_reclaim_orphans_flag(tmp_path):
    """reclaim_orphans=False leaves aged unreferenced files alone —
    the knob ZestStore.vacuum uses while a rewrite holds the lock."""
    t = str(tmp_path / "orph")
    _touch(t, "f1.parquet")
    snapshots.commit(t, adds=["f1.parquet"])
    _touch(t, "staged.parquet")  # unreferenced (an in-flight rewrite's)
    old = time.time() - 2 * snapshots.ORPHAN_MIN_AGE_S
    os.utime(os.path.join(t, "staged.parquet"), (old, old))
    dead, orphans = snapshots.vacuum(t, retention_s=0.0, reclaim_orphans=False)
    assert orphans == 0
    assert os.path.exists(os.path.join(t, "staged.parquet"))
    dead, orphans = snapshots.vacuum(t, retention_s=0.0)
    assert orphans == 1
    assert not os.path.exists(os.path.join(t, "staged.parquet"))


def test_store_vacuum_skips_orphans_while_rewrite_in_flight(spark, tmp_path):
    """A staged-for-longer-than-the-orphan-floor rewrite file must
    survive a concurrent maintenance vacuum: ZestStore.vacuum sees the
    rewrite lock and defers orphan reclaim to the next quiet vacuum."""
    from zestdb_spark.schema import TS_NUMERIC
    from zestdb_spark.storage import ZestStore

    st = ZestStore(spark, str(tmp_path / "vlock"))
    st.write_numeric_bulk(
        spark.createDataFrame([("a", 1000, 1.0, None, None)], TS_NUMERIC)
    )
    table_dir = st._path("ts_numeric")
    staged = os.path.join(table_dir, "series_id=a/time_bucket=0/rw-zz.parquet")
    with open(staged, "wb") as f:
        f.write(b"not yet committed")
    old = time.time() - 2 * snapshots.ORPHAN_MIN_AGE_S
    os.utime(staged, (old, old))

    with st._rewrite_lock("ts_numeric"):  # the in-flight rewrite
        _, orphans = st.vacuum("ts_numeric", retention_s=0.0)
        assert orphans == 0 and os.path.exists(staged)
    _, orphans = st.vacuum("ts_numeric", retention_s=0.0)  # quiet now
    assert orphans == 1 and not os.path.exists(staged)


def test_resolve_cache_eviction_is_thread_safe(tmp_path):
    """Concurrent commits across more tables than the cache holds:
    eviction under contention must never raise (in commit() a raise
    lands AFTER os.link published the manifest — a durably committed
    write would be reported as failed)."""
    errs: list = []

    def worker(i: int) -> None:
        try:
            t = str(tmp_path / f"t{i}")
            for j in range(25):
                _touch(t, f"f{j}.parquet")
                snapshots.commit(t, adds=[f"f{j}.parquet"])
        except Exception as e:  # pragma: no cover - the bug under test
            errs.append(e)

    threads = [
        threading.Thread(target=worker, args=(i,))
        for i in range(2 * snapshots._RESOLVE_CACHE_MAX)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    for i in range(2 * snapshots._RESOLVE_CACHE_MAX):
        assert snapshots.latest(str(tmp_path / f"t{i}")).version == 24


def test_stale_lock_reclaim_has_one_winner(spark, tmp_path):
    """A dead rewriter's lock is reclaimed by exactly one waiter: the
    sidecar mutex prevents the unlink race where waiter B deletes
    waiter A's freshly re-acquired lock (two rewriters inside)."""
    import subprocess

    from zestdb_spark.storage import ZestStore

    st = ZestStore(spark, str(tmp_path / "lockrace"))
    # a provably-dead pid: a real child that already exited
    child = subprocess.Popen(["true"])
    child.wait()
    lock_path = os.path.join(st.root, ".lock_ts_numeric")
    with open(lock_path, "w") as f:
        f.write(str(child.pid))

    inside = [0]
    peak = [0]
    gate = threading.Lock()
    errs: list = []

    def worker() -> None:
        try:
            with st._rewrite_lock("ts_numeric", wait_s=20.0):
                with gate:
                    inside[0] += 1
                    peak[0] = max(peak[0], inside[0])
                time.sleep(0.01)
                with gate:
                    inside[0] -= 1
        except Exception as e:  # pragma: no cover - the bug under test
            errs.append(e)

    threads = [threading.Thread(target=worker) for _ in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    assert peak[0] == 1  # never two holders
    assert not os.path.exists(lock_path)
    assert not os.path.exists(lock_path + ".reclaim")
