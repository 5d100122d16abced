"""Store durability: a fresh engine over the same root sees all prior
writes (every append is durable — the reference needs an explicit
flush-on-shutdown, SURVEY.md §2.12 M5; parquet appends don't)."""

from __future__ import annotations

import json

from zestdb_spark.api import ZestEngine


def test_reopen_store_sees_all_writes(spark, tmp_path):
    root = str(tmp_path / "durable")
    e1 = ZestEngine(spark, root)
    e1.post("/ts/d/at/1000", {"value": 1.0, "room": "a"})
    e1.post("/ts/blob/bd/at/500", {"x": 1})
    e1.post("/kv/ns/k1", {"v": 1})
    del e1

    e2 = ZestEngine(spark, root)
    assert json.loads(e2.get("/ts/d/length")) == {"length": 1}
    assert json.loads(e2.get("/ts/blob/bd/latest"))[0]["data"] == {"x": 1}
    assert json.loads(e2.get("/kv/ns/count")) == {"count": 1}
    # and writes through the new instance land in the same tables
    e2.post("/ts/d/at/2000", {"value": 2.0})
    assert json.loads(e2.get("/ts/d/length")) == {"length": 2}


def test_kv_upsert_survives_reopen(spark, tmp_path):
    root = str(tmp_path / "durable2")
    e1 = ZestEngine(spark, root)
    e1.post("/kv/ns/k", "old")  # str → text store (content-format 0)
    e1.post("/kv/ns/k", "new")  # LWW overwrite
    e2 = ZestEngine(spark, root)
    assert e2.get("/kv/ns/k", content_format="text") == "new"
    assert json.loads(e2.get("/kv/ns/count", content_format="text")) == {"count": 1}


def test_kv_content_format_stores_are_separate(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "formats"))
    eng.post("/kv/ns/k", {"a": 1})  # json
    eng.post("/kv/ns/k", "plain text")  # text
    eng.post("/kv/ns/k", b"\x00\x01bin")  # binary
    assert json.loads(eng.get("/kv/ns/k")) == {"a": 1}
    assert eng.get("/kv/ns/k", content_format="text") == "plain text"
    assert eng.get("/kv/ns/k", content_format="binary") == "\x00\x01bin"
    # each store counts independently (reference: one store per format)
    for fmt in ("json", "text", "binary"):
        assert json.loads(eng.get("/kv/ns/count", content_format=fmt)) == {"count": 1}


def _file_states(root):
    """(relpath, size, sha) of every data file under root."""
    import hashlib
    import os

    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith(("_", ".")):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, root)
            out[rel] = hashlib.sha1(open(full, "rb").read()).hexdigest()
    return out


def test_ts_delete_rewrites_only_touched_partitions(spark, tmp_path):
    """Partition-scoped delete: files of (series, day) partitions outside
    the delete window stay byte-identical — the 100 TB property (only
    pruned partitions are re-read/rewritten)."""
    import os

    root = str(tmp_path / "scoped")
    eng = ZestEngine(spark, root)
    day = 86_400_000
    for series in ("a", "b"):
        for d in range(3):
            eng.post(f"/ts/{series}/at/{d * day + 500}", {"value": float(d)})

    from zestdb_spark import snapshots

    table_dir = os.path.join(root, "ts_numeric")
    before = _file_states(table_dir)
    live_before = set(snapshots.latest(table_dir).files)
    # delete day-1 of series a only
    eng.delete(f"/ts/a/range/{day}/{2 * day - 1}")

    after = _file_states(table_dir)
    snap = snapshots.latest(table_dir)
    live_after = set(snap.files)
    touched_prefix = os.path.join("series_id=a", "time_bucket=1")
    for rel, sha in before.items():
        if rel.startswith(touched_prefix):
            # off the manifest (tombstoned for pinned readers, physical
            # reclaim is vacuum's) — but no longer LIVE
            assert rel not in live_after and rel in snap.tombstones
        else:
            assert after.get(rel) == sha, f"untouched partition rewritten: {rel}"
            if rel in live_before:
                assert rel in live_after, f"untouched partition dropped: {rel}"
    assert json.loads(eng.get("/ts/a/length")) == {"length": 2}
    assert json.loads(eng.get("/ts/b/length")) == {"length": 3}
    # vacuum past retention physically reclaims the tombstones
    eng.store.vacuum("ts_numeric", retention_s=0.0)
    assert not snapshots.latest(table_dir).tombstones
    disk = set(snapshots.list_data_files(table_dir))
    assert not any(rel.startswith(touched_prefix) for rel in disk)


def test_compact_merges_leaf_files_and_preserves_rows(spark, tmp_path):
    """S7 shard-merge parity: per-write appends leave one file per
    request; compact() coalesces each (series, day) leaf to one file,
    touching only oversized leaves and preserving every row + its
    provenance stamp."""
    import os

    root = str(tmp_path / "cstore")
    eng = ZestEngine(spark, root)
    day = 86_400_000
    for i in range(4):  # 4 files in series a / bucket 0
        eng.post(f"/ts/a/at/{i * 1000}", {"value": float(i)})
    eng.post(f"/ts/b/at/{day + 5}", {"value": 9.0})  # 1 file — not touched

    before = eng.store.load_with_provenance("ts_numeric").collect()
    b_files = _file_states(os.path.join(root, "ts_numeric", "series_id=b"))

    assert eng.store.compact("ts_numeric") == 1  # only a/bucket-0

    leaf = os.path.join(root, "ts_numeric", "series_id=a", "time_bucket=0")
    data_files = [f for f in os.listdir(leaf) if f.endswith(".parquet")]
    assert len(data_files) == 1
    # series b untouched byte-for-byte
    assert _file_states(os.path.join(root, "ts_numeric", "series_id=b")) == b_files
    # identical rows INCLUDING write_id provenance
    after = eng.store.load_with_provenance("ts_numeric").collect()
    assert sorted(map(tuple, after)) == sorted(map(tuple, before))
    # idempotent
    assert eng.store.compact("ts_numeric") == 0
    assert json.loads(eng.get("/ts/a/last/10"))[0]["data"] == {"value": 3.0}


def test_compact_crash_recovery_restores_rows(spark, tmp_path, monkeypatch):
    """A compact() killed at ANY point before its manifest commit
    leaves the table reading fully old (the merged files it staged are
    unreferenced — no window loses or doubles rows), and re-running
    compact() finishes the job."""
    import os

    from zestdb_spark.storage import ZestStore

    root = str(tmp_path / "crashstore")
    eng = ZestEngine(spark, root)
    for i in range(3):
        eng.post(f"/ts/a/at/{i * 1000}", {"value": float(i)})
    before = sorted(map(tuple, eng.store.load_with_provenance("ts_numeric").collect()))

    real_commit = ZestStore._commit

    def crash(self, table, adds=(), removes=(), op=""):
        raise RuntimeError("simulated crash before the compact commit")

    monkeypatch.setattr(ZestStore, "_commit", crash)
    try:
        eng.store.compact("ts_numeric")
    except RuntimeError:
        pass
    monkeypatch.setattr(ZestStore, "_commit", real_commit)

    # fully old: same rows, same provenance, still 3 live files
    assert sorted(map(tuple, eng.store.load_with_provenance("ts_numeric").collect())) == before
    from zestdb_spark import snapshots

    table_dir = os.path.join(root, "ts_numeric")
    assert len(snapshots.latest(table_dir).files) == 3

    assert eng.store.compact("ts_numeric") == 1  # re-run converges
    assert sorted(map(tuple, eng.store.load_with_provenance("ts_numeric").collect())) == before
    assert len(snapshots.latest(table_dir).files) == 1


def test_ts_delete_negative_timestamps(spark, tmp_path):
    """Bucket math must truncate toward zero like the write path: a
    pre-1970 row lands in bucket 0 (cast semantics), and a delete whose
    floor-division bucket would be -1 must still prune it."""
    eng = ZestEngine(spark, str(tmp_path / "neg"))
    eng.post("/ts/n/at/-50", {"value": 1.0})
    eng.post("/ts/n/at/500", {"value": 2.0})
    eng.delete("/ts/n/range/-100/-10")
    rows = eng.store.load("ts_numeric").collect()
    assert [(r.timestamp, r.value) for r in rows] == [(500, 2.0)]


def test_kv_upsert_rewrites_only_touched_namespace(spark, tmp_path):
    import os

    root = str(tmp_path / "kvscope")
    eng = ZestEngine(spark, root)
    eng.post("/kv/ns1/k1", {"v": 1})
    eng.post("/kv/ns2/k1", {"v": 2})
    before = _file_states(os.path.join(root, "kv_json"))

    eng.post("/kv/ns1/k2", {"v": 3})  # upsert into ns1 only

    after = _file_states(os.path.join(root, "kv_json"))
    for rel, sha in before.items():
        if rel.startswith("id=ns2"):
            assert after.get(rel) == sha, f"untouched namespace rewritten: {rel}"
    assert json.loads(eng.get("/kv/ns1/count")) == {"count": 2}
    assert json.loads(eng.get("/kv/ns2/count")) == {"count": 1}


def test_ts_delete_torn_write_reads_old_then_converges(spark, tmp_path, monkeypatch):
    """Torn-write contract for the transactional DELETE: a rewrite
    killed mid-flight (anywhere before its single manifest commit)
    must leave the table reading fully OLD — the survivor files it
    staged are unreferenced and invisible — and re-issuing the same
    delete after the crash must converge to the NEW state. Never a
    mixed or part-written partition."""
    import os

    from zestdb_spark.storage import ZestStore

    root = str(tmp_path / "torn")
    eng = ZestEngine(spark, root)
    day = 86_400_000
    for d in range(3):
        eng.post(f"/ts/a/at/{d * day + 500}", {"value": float(d)})

    before = _file_states(os.path.join(root, "ts_numeric"))

    real_commit = ZestStore._commit

    def crash(self, table, adds=(), removes=(), op=""):
        raise RuntimeError("simulated crash before the delete commit")

    monkeypatch.setattr(ZestStore, "_commit", crash)
    try:
        eng.delete(f"/ts/a/range/{day}/{2 * day - 1}")
    except RuntimeError:
        pass
    monkeypatch.setattr(ZestStore, "_commit", real_commit)

    # fully OLD: every pre-delete data file still present byte-for-byte
    # (the crashed rewrite's staged survivors are extra, unreferenced
    # files — vacuum's problem, not the reader's)
    after_crash = _file_states(os.path.join(root, "ts_numeric"))
    for rel, sha in before.items():
        assert after_crash.get(rel) == sha, f"torn partition after crash: {rel}"
    assert json.loads(eng.get("/ts/a/length")) == {"length": 3}

    # re-issue: converges to the post-delete state
    eng.delete(f"/ts/a/range/{day}/{2 * day - 1}")
    assert json.loads(eng.get("/ts/a/length")) == {"length": 2}
    rows = sorted(r.timestamp for r in eng.store.load("ts_numeric").collect())
    assert rows == [500, 2 * day + 500]


def test_ts_delete_commits_atomically_across_partitions(spark, tmp_path):
    """Cross-partition snapshot isolation — the property the old
    leaf-swap emulation could not give (VERDICT r6 'What's missing'):
    a delete spanning several partitions publishes exactly ONE new
    manifest version, so no reader can observe partition A deleted
    but partition B not; and a reader whose DataFrame was pinned
    BEFORE the delete still collects the complete OLD snapshot
    afterward (its files are tombstoned, not removed)."""
    import os

    from zestdb_spark import snapshots

    root = str(tmp_path / "atomic")
    eng = ZestEngine(spark, root)
    day = 86_400_000
    # two series × two day-buckets, all hit by one delete window
    for series in ("a", "b"):
        for d in range(2):
            eng.post(f"/ts/{series}/at/{d * day + 100}", {"value": float(d), "k": "y"})
        eng.post(f"/ts/{series}/at/{2 * day + 100}", {"value": 9.0, "k": "x"})

    table_dir = os.path.join(root, "ts_numeric")
    v_before = snapshots.latest(table_dir).version
    pinned = eng.store.load("ts_numeric")  # old-snapshot reader

    eng.delete(f"/ts/a/range/0/{2 * day - 1}")
    snap = snapshots.latest(table_dir)
    # one delete spanning two day-buckets = exactly one new version
    assert snap.version == v_before + 1
    survivors = sorted(
        (r.series_id, r.timestamp) for r in eng.store.load("ts_numeric").collect()
    )
    assert survivors == [
        ("a", 2 * day + 100),
        ("b", 100),
        ("b", day + 100),
        ("b", 2 * day + 100),
    ]
    # the pinned reader still sees the complete pre-delete snapshot
    assert len(pinned.collect()) == 6


def test_rewrite_lock_busy_and_stale_reclaim(spark, tmp_path):
    """Two concurrent rewriters of the same table must serialize: a
    held lock (live pid) makes the second writer fail LOUDLY with
    StoreBusy (CoAP 163) after its wait budget, while a lockfile left
    by a CRASHED rewriter (dead pid) is reclaimed so one crash can't
    wedge the table forever."""
    import os

    from zestdb_spark.errors import StoreBusy

    root = str(tmp_path / "locks")
    eng = ZestEngine(spark, root)
    eng.post("/kv/ns/k", {"v": 1})

    lock = os.path.join(root, ".lock_kv_json")
    # held by a live process (pid 1 always exists)
    with open(lock, "w") as f:
        f.write("1")
    import pytest as _pt

    with _pt.raises(StoreBusy, match="kv_json"):
        with eng.store._rewrite_lock("kv_json", wait_s=0.3):
            pass

    # stale: dead pid → reclaimed, lock acquired, op proceeds
    with open(lock, "w") as f:
        f.write("999999999")
    eng.post("/kv/ns/k", {"v": 2})  # takes + releases the lock
    assert not os.path.exists(lock)
    assert json.loads(eng.get("/kv/ns/k")) == {"v": 2}

    # the lock is scoped per table: a busy kv_json doesn't block ts
    with open(lock, "w") as f:
        f.write("1")
    eng.post("/ts/a/at/1000", {"value": 1.0})  # append path — no lock
    eng.delete("/ts/a/since/0")  # ts_numeric lock, independent
    os.unlink(lock)


def test_compact_scoped_to_series_and_window(spark, tmp_path):
    """OPTIMIZE ... WHERE: series/since/until scope restricts
    maintenance to matching leaves — the nightly 'compact yesterday's
    hot partitions' job must not churn the cold 99% of the table."""
    eng = ZestEngine(spark, str(tmp_path / "scstore"))
    day = 86_400_000
    for series in ("a", "b"):
        for d in (0, 1):
            for i in range(3):  # 3 files per (series, day) leaf
                eng.post(f"/ts/{series}/at/{d * day + i * 1000}", {"value": 1.0})
    before = sorted(map(tuple, eng.store.load_with_provenance("ts_numeric").collect()))

    # scope: series a only, day-1 window only → exactly one leaf
    done = eng.store.compact(
        "ts_numeric", series={"a"}, since_ms=day, until_ms=day + 10_000
    )
    assert done == 1
    live = eng.store._live_files("ts_numeric")
    by_leaf = {}
    for rel in live:
        by_leaf.setdefault(rel.rsplit("/", 1)[0], []).append(rel)
    assert len(by_leaf["series_id=a/time_bucket=1"]) == 1
    # everything out of scope still has its 3 per-write files
    for leaf in (
        "series_id=a/time_bucket=0",
        "series_id=b/time_bucket=0",
        "series_id=b/time_bucket=1",
    ):
        assert len(by_leaf[leaf]) == 3, leaf
    # content preserved verbatim
    after = sorted(map(tuple, eng.store.load_with_provenance("ts_numeric").collect()))
    assert after == before
    # widening the scope finishes the job; a second pass is a no-op
    assert eng.store.compact("ts_numeric") == 3
    assert eng.store.compact("ts_numeric") == 0


def test_compact_target_bytes_sizing(spark, tmp_path):
    """target_bytes switches per-leaf sizing to bin-packing: a leaf
    whose bytes exceed the target keeps multiple roughly-target files;
    a leaf already within budget per file is skipped entirely."""
    import os as _os

    eng = ZestEngine(spark, str(tmp_path / "bstore"))
    for i in range(6):  # six small files in one leaf
        eng.post(f"/ts/a/at/{i * 1000}", {"value": float(i)})
    root = eng.store._path("ts_numeric")
    files = eng.store._live_files("ts_numeric")
    per_file = _os.path.getsize(_os.path.join(root, files[0]))
    leaf_bytes = sum(
        _os.path.getsize(_os.path.join(root, f)) for f in files
    )

    # target = half the leaf → exactly 2 output files
    target = -(-leaf_bytes // 2)
    assert eng.store.compact("ts_numeric", target_bytes=target) == 1
    after = eng.store._live_files("ts_numeric")
    assert len(after) == 2
    # content preserved
    got = sorted(r.value for r in eng.store.load("ts_numeric").collect())
    assert got == [0.0, 1.0, 2.0, 3.0, 4.0, 5.0]
    # a generous target that each file already satisfies → no-op
    assert (
        eng.store.compact("ts_numeric", target_bytes=per_file * 100) == 0
        or len(eng.store._live_files("ts_numeric")) == 1
    )


def test_scoped_compact_sizes_only_in_scope_leaves(spark, tmp_path, monkeypatch):
    """A scoped target_bytes compact decides scope from the leaf's
    partition values BEFORE sizing it: the nightly job must not stat
    every file of the cold rest of the table."""
    import os as _os

    eng = ZestEngine(spark, str(tmp_path / "scstat"))
    for series in ("a", "b"):
        for i in range(3):  # 3 files per leaf
            eng.post(f"/ts/{series}/at/{i * 1000}", {"value": 1.0})
    real_getsize = _os.path.getsize
    statted: list[str] = []

    def spy(path):
        statted.append(str(path))
        return real_getsize(path)

    monkeypatch.setattr(_os.path, "getsize", spy)
    done = eng.store.compact("ts_numeric", series={"a"}, target_bytes=1 << 30)
    monkeypatch.undo()
    assert done == 1
    table_files = [p for p in statted if "ts_numeric" in p]
    assert any("series_id=a" in p for p in table_files)
    assert not any("series_id=b" in p for p in table_files), table_files
    by_leaf: dict = {}
    for rel in eng.store._live_files("ts_numeric"):
        by_leaf.setdefault(rel.rsplit("/", 1)[0], []).append(rel)
    assert len(by_leaf["series_id=a/time_bucket=0"]) == 1
    assert len(by_leaf["series_id=b/time_bucket=0"]) == 3


def test_log_append_crash_is_invisible_and_recoverable(spark, tmp_path, monkeypatch):
    """Round 8: the logs (audit, write_log) are manifested like every
    other table — a crash between staging a log batch and its commit
    leaves unreferenced orphans, never a torn half-visible append, and
    the next append simply works."""
    from zestdb_spark.storage import ZestStore, now_ms

    st = ZestStore(spark, str(tmp_path / "logcrash"))
    st.audit_append((now_ms(), "srv", "cli", "GET", "/ts/a/latest", 69))
    assert st.load("audit").count() == 1
    assert st.history("audit")[0].op == "append"  # logs have a commit log now

    real_commit = ZestStore._commit

    def crash(self, table, adds=(), removes=(), op="", txn=None):
        if table == "audit":
            raise RuntimeError("simulated crash before the log commit")
        return real_commit(self, table, adds=adds, removes=removes, op=op, txn=txn)

    monkeypatch.setattr(ZestStore, "_commit", crash)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        st.audit_append((now_ms(), "srv", "cli", "GET", "/ts/a/latest", 69))
    monkeypatch.setattr(ZestStore, "_commit", real_commit)

    # the torn append is INVISIBLE to the manifested read
    assert st.load("audit").count() == 1
    # and the log keeps accepting appends afterwards
    st.audit_append((now_ms(), "srv", "cli", "POST", "/ts/a", 65))
    assert st.load("audit").count() == 2


def test_compact_log_merges_files_and_preserves_rows(spark, tmp_path):
    """Round 8: the logs are manifested, so they can be OPTIMIZEd like
    any table — per-mutation tiny files merge to one under the rewrite
    lock, rows verbatim, provenance joins unaffected."""
    from zestdb_spark.storage import ZestStore, now_ms

    st = ZestStore(spark, str(tmp_path / "logcompact"))
    for i in range(5):
        st.audit_append((now_ms() + i, "srv", "cli", "GET", f"/ts/s{i}", 69))
    n_files = len(st._live_files("audit"))
    assert n_files == 5  # one coalesced file per append
    before = sorted(r.path for r in st.load("audit").collect())

    # vacuum_retention_s=0.0 is the tests' explicit immediate-reclaim
    # opt-in; the DEFAULT keeps standard retention so a reader pinned
    # to the pre-compaction snapshot still finds its bytes
    assert st.compact_log("audit", vacuum_retention_s=0.0) == n_files
    assert len(st._live_files("audit")) == 1
    assert sorted(r.path for r in st.load("audit").collect()) == before
    assert st.history("audit")[1].op == "compact"  # [0] is the vacuum commit
    # idempotent: already at target -> no-op
    assert st.compact_log("audit") == 0
    # write_log compacts the same way and the seq survives
    st.write_numeric("a", {"value": 1.0}, 1000)
    st.write_numeric("a", {"value": 2.0}, 2000)
    n = len(st._live_files("write_log"))
    assert n >= 2 and st.compact_log("write_log", vacuum_retention_s=0.0) == n
    wl = st.load("write_log")
    assert wl.count() == 2
    assert st._next_write_id() == 3  # seeded from the compacted log
