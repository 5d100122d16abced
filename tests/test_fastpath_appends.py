"""Round 9: driver-side append fast paths (storage._append_log,
storage._append_ts_local). A per-request 1-row append must not pay a
Spark job (~0.6 s scheduler floor; ~6 s under coalesce(1), whose one
task replays all 32 python-RDD parents serially) — but it must stay
BYTE-EQUIVALENT to the distributed path: same partition dir names
(Hive escapePathName), same manifest/commit semantics, same read
results, same footer stats for pruning."""

from __future__ import annotations

import os

import pytest

from zestdb_spark import snapshots
from zestdb_spark.storage import ZestStore, _escape_part


@pytest.fixture()
def store(spark, tmp_path):
    st = ZestStore(spark, str(tmp_path / "store"))
    st.set_request_context("POST", "/t", "tester", None)
    return st


#: ground-truthed against THIS Spark build's partitioned writes
#: (Hive escapePathName): '{' escaped but '}' not, space and unicode
#: pass through, uppercase hex
ESCAPE_CASES = [
    ("plain", "plain"),
    ("a b", "a b"),
    ("a=b", "a%3Db"),
    ("a/b", "a%2Fb"),
    ("a:b", "a%3Ab"),
    ("a%b", "a%25b"),
    ("a#b", "a%23b"),
    ("a'b", "a%27b"),
    ('a"b', "a%22b"),
    ("a*b", "a%2Ab"),
    ("a?b", "a%3Fb"),
    ("a[b]", "a%5Bb%5D"),
    ("a{b}", "a%7Bb}"),
    ("a^b", "a%5Eb"),
    ("a\\b", "a%5Cb"),
    ("a\tb", "a%09b"),
    ("café", "café"),
    ("日本語", "日本語"),
]


def test_escape_part_matches_hive():
    for raw, expected in ESCAPE_CASES:
        assert _escape_part(raw) == expected, raw


def test_fastpath_and_bulk_share_one_partition(spark, store):
    """The riskiest property: a series written through BOTH paths must
    land in ONE physical partition dir, or reads see a split series."""
    sid = "a=b c"
    store.write_numeric(sid, {"value": 1.0}, 1000)
    bulk = spark.createDataFrame(
        [(sid, 2000, 2.0, None, None)],
        "series_id string, timestamp long, value double, "
        "tag_name string, tag_value string",
    )
    store.write_numeric_bulk(bulk)
    base = store._path("ts_numeric")
    dirs = [d for d in os.listdir(base) if d.startswith("series_id=")]
    assert dirs == [f"series_id={_escape_part(sid)}"]
    got = store.load("ts_numeric").filter(f"series_id = '{sid}'")
    assert sorted((r.timestamp, r.value) for r in got.collect()) == [
        (1000, 1.0),
        (2000, 2.0),
    ]


def test_fastpath_rows_read_identically_to_bulk(spark, store):
    """Same logical rows through each path → identical load() output
    (schema, values, tags) and every row provenance-stamped."""
    rows = [
        ("s1", 1000, 1.5, "unit", "C"),
        ("s1", 90_000_000_000, 2.5, None, None),  # different day bucket
        ("s2", 1000, -3.5, None, None),
    ]
    for r in rows:
        payload = {"value": r[2]} | ({r[3]: r[4]} if r[3] else {})
        store.write_numeric(r[0], payload, r[1])
    via_fast = sorted(
        tuple(r) for r in store.load("ts_numeric").collect()
    )
    st2 = ZestStore(spark, store.root + "_bulk")
    st2.set_request_context("POST", "/t", "tester", None)
    st2.write_numeric_bulk(
        spark.createDataFrame(
            rows,
            "series_id string, timestamp long, value double, "
            "tag_name string, tag_value string",
        )
    )
    via_bulk = sorted(tuple(r) for r in st2.load("ts_numeric").collect())
    assert via_fast == via_bulk
    prov = store.load_with_provenance("ts_numeric")
    assert prov.filter("write_id is null").count() == 0
    # one write_log row per write_numeric call, one batch per bulk call
    assert store.load("write_log").count() == 3
    assert st2.load("write_log").count() == 1


def test_fastpath_files_carry_footer_stats(store):
    """Data skipping must keep working: the manifest stats for a
    fast-path file carry timestamp/value min-max (pyarrow writes the
    same footer statistics Spark's writer does)."""
    store.write_numeric("s", {"value": 5.0}, 3000)
    store.write_numeric("s", {"value": 7.0}, 4000)
    snap = snapshots.latest(store._path("ts_numeric"))
    assert snap.stats and len(snap.stats) == 2
    for s in snap.stats.values():
        assert s["min"]["timestamp"] in (3000, 4000)
        assert s["min"]["value"] in (5.0, 7.0)
        assert s["rows"] == 1


def test_fastpath_blob_roundtrip(store):
    store.write_blob("b", {"k": [1, 2, {"x": None}]}, 1500)
    rows = store.load("ts_blob").collect()
    assert len(rows) == 1 and rows[0].timestamp == 1500
    import json

    assert json.loads(rows[0].data) == {"k": [1, 2, {"x": None}]}


def test_log_appends_are_sparkless_and_fast(store):
    """After the engine is warm, a log append must complete in well
    under a second (it is a driver-side pyarrow write + manifest CAS —
    no Spark job; budget is generous for loaded CI hosts)."""
    import time

    from zestdb_spark.storage import now_ms

    store.audit_append((now_ms(), "srv", "cli", "GET", "/ts/x", 69))  # warm
    t0 = time.monotonic()
    for i in range(5):
        store.audit_append((now_ms() + i, "srv", "cli", "GET", f"/ts/{i}", 69))
    assert (time.monotonic() - t0) / 5 < 0.5
    assert store.load("audit").count() == 6


def test_negative_timestamp_bucket_matches_spark_cast(spark, store):
    """Bucket arithmetic: Spark computes cast(ts / 86400000 as long)
    (double division truncating toward zero); the fast path's integer
    form must agree on NEGATIVE pre-1970 timestamps too."""
    store.write_numeric("neg", {"value": 1.0}, -1)
    store.write_numeric("neg", {"value": 2.0}, -86_400_001)
    base = store._path("ts_numeric")
    buckets = sorted(
        d.split("=")[1]
        for d in os.listdir(os.path.join(base, "series_id=neg"))
        if d.startswith("time_bucket=")
    )
    assert buckets == ["-1", "0"]
    got = store.load("ts_numeric").filter("series_id = 'neg'").collect()
    assert sorted(r.timestamp for r in got) == [-86_400_001, -1]


def test_kv_local_rewrite_matches_spark_path(spark, store):
    """The KV namespace fast path (storage._kv_local_rewrite) must be
    observationally identical to the distributed rewrite: same LWW
    result, same partition naming (rw-* — observers stay silent), same
    one-commit namespace swap."""
    store.kv_upsert("json", "NS", "a", '"1"')
    store.kv_upsert("json", "NS", "b", '"2"')
    store.kv_upsert("json", "NS", "a", '"3"')  # LWW overwrite
    kv = store.load("kv_json").filter("id = 'NS'")
    assert sorted((r.key, r.value) for r in kv.collect()) == [
        ("a", '"3"'),
        ("b", '"2"'),
    ]
    # files: exactly one live rw-* file for the namespace
    live = [
        rel for rel in store._live_files("kv_json") if rel.startswith("id=NS/")
    ]
    assert len(live) == 1 and "/rw-" in live[0]
    # delete the last key -> emptied namespace is a commit with NO adds
    store.kv_delete("json", "NS", "a")
    store.kv_delete("json", "NS", "b")
    assert store.load("kv_json").filter("id = 'NS'").count() == 0
    assert not any(
        rel.startswith("id=NS/") for rel in store._live_files("kv_json")
    )


def test_kv_local_rewrite_folds_bulk_ingested_files(spark, store):
    """A namespace materialized by the DISTRIBUTED bulk path (several
    part files) must fold correctly through the driver-side fast path:
    all rows survive, the patched key changes, one file remains."""
    bulk = spark.createDataFrame(
        [("N", f"k{i}", str(i)) for i in range(50)],
        "id string, key string, value string",
    )
    store.kv_ingest_bulk("json", bulk)
    store.kv_upsert("json", "N", "k7", "patched")
    ns = store.load("kv_json").filter("id = 'N'")
    assert ns.count() == 50
    assert ns.filter("key = 'k7'").collect()[0].value == "patched"
    live = [rel for rel in store._live_files("kv_json") if rel.startswith("id=N/")]
    assert len(live) == 1


def test_kv_local_rewrite_budget_fallback(spark, store, monkeypatch):
    """Past the driver budget the op falls back to the Spark rewrite —
    same answer, no driver materialization."""
    monkeypatch.setattr(ZestStore, "_KV_LOCAL_MAX_BYTES", 0)
    store.kv_upsert("json", "BIG", "x", '"1"')
    store.kv_upsert("json", "BIG", "y", '"2"')
    kv = store.load("kv_json").filter("id = 'BIG'")
    assert sorted((r.key, r.value) for r in kv.collect()) == [
        ("x", '"1"'),
        ("y", '"2"'),
    ]


def test_kv_local_rewrite_commit_failure_unlinks_replacement(spark, store, monkeypatch):
    """A driver-side namespace rewrite whose commit fails leaves the
    namespace fully old and unlinks its uncommitted rw-* file (no
    manifest references it and no observer glob matches it)."""
    store.kv_upsert("json", "NS", "a", '"1"')

    def boom(self, *a, **k):
        raise RuntimeError("commit failed")

    monkeypatch.setattr(ZestStore, "_commit", boom)
    with pytest.raises(RuntimeError, match="commit failed"):
        store.kv_upsert("json", "NS", "b", '"2"')
    monkeypatch.undo()
    kv = store.load("kv_json").filter("id = 'NS'")
    assert [(r.key, r.value) for r in kv.collect()] == [("a", '"1"')]
    ns_dir = os.path.join(store._path("kv_json"), "id=NS")
    on_disk = {f for f in os.listdir(ns_dir) if f.lstrip(".").startswith("rw-")}
    live = {
        rel.split("/", 1)[1]
        for rel in store._live_files("kv_json")
        if rel.startswith("id=NS/")
    }
    assert on_disk == live and len(live) == 1


def test_kv_binary_roundtrips_through_fast_path(store):
    payload = bytes(range(256))
    store.kv_upsert("binary", "B", "blob", payload)
    rows = store.load("kv_binary").filter("id = 'B'").collect()
    assert len(rows) == 1 and bytes(rows[0].value) == payload


def test_catalog_local_upsert_matches_render(spark, store):
    """Catalog fast path: upsert-by-href folds driver-side into one
    rw-* file; non-string vals keep their JSON form; re-posting an
    href replaces, never duplicates."""
    import json

    from zestdb_spark.operators import catalog as cat_ops

    base_md = [
        {"rel": "urn:X-hypercat:rels:hasDescription:en", "val": "d"},
        {"rel": "urn:X-hypercat:rels:isContentType", "val": "application/json"},
    ]
    store.catalog_upsert({"href": "/ts/a", "item-metadata": base_md + [{"rel": "c", "val": True}]})
    store.catalog_upsert({"href": "/ts/b", "item-metadata": base_md})
    store.catalog_upsert({"href": "/ts/a", "item-metadata": base_md + [{"rel": "c", "val": 42}]})
    live = store._live_files("catalog_items")
    assert len(live) == 1 and live[0].startswith("rw-")
    cat = json.loads(cat_ops.render(store.load("catalog_items")))
    by_href = {i["href"]: i["item-metadata"] for i in cat["items"]}
    assert set(by_href) == {"/ts/a", "/ts/b"}
    cvals = [p["val"] for p in by_href["/ts/a"] if p["rel"] == "c"]
    assert cvals == ["42"]  # JSON form, replaced not duplicated


def test_catalog_local_upsert_budget_fallback(spark, store, tmp_path, monkeypatch):
    """Past the driver budget catalog_upsert takes the distributed
    _overwrite rewrite — and renders the same catalog as the fast path
    for the same three upserts."""
    import json

    from zestdb_spark.operators import catalog as cat_ops

    base_md = [
        {"rel": "urn:X-hypercat:rels:hasDescription:en", "val": "d"},
        {"rel": "urn:X-hypercat:rels:isContentType", "val": "application/json"},
    ]
    items = [
        {"href": "/ts/a", "item-metadata": base_md + [{"rel": "c", "val": True}]},
        {"href": "/ts/b", "item-metadata": base_md},
        {"href": "/ts/a", "item-metadata": base_md + [{"rel": "c", "val": 42}]},
    ]
    fast = ZestStore(spark, str(tmp_path / "fast"))
    for item in items:
        fast.catalog_upsert(item)

    monkeypatch.setattr(ZestStore, "_KV_LOCAL_MAX_BYTES", 0)
    overwrites: list[str] = []
    real_overwrite = ZestStore._overwrite

    def spy(self, table, df):
        overwrites.append(table)
        return real_overwrite(self, table, df)

    monkeypatch.setattr(ZestStore, "_overwrite", spy)
    for item in items:
        store.catalog_upsert(item)
    # the first upsert folds an EMPTY table (0 bytes, within budget);
    # both later ones exceed it
    assert overwrites == ["catalog_items", "catalog_items"]

    def rendered(st):
        cat = json.loads(cat_ops.render(st.load("catalog_items")))
        cat["items"].sort(key=lambda i: i["href"])
        return cat

    got = rendered(store)
    assert got == rendered(fast)
    assert [i["href"] for i in got["items"]] == ["/ts/a", "/ts/b"]


def test_vacuum_reclaims_crashed_fastpath_dotfiles(spark, store):
    """A crash between the fast path's dot-file write and its rename
    leaves an invisible `.part-*.parquet` — vacuum must reclaim it past
    the orphan floor (dot names can never become referenced)."""
    import time as _time

    store.write_numeric("s", {"value": 1.0}, 1000)
    real = store._path("ts_numeric")
    litter = os.path.join(real, "series_id=s", "time_bucket=0", ".part-crashed.snappy.parquet")
    with open(litter, "wb") as f:
        f.write(b"torn")
    old = _time.time() - 10_000
    os.utime(litter, (old, old))
    dead, orphans = snapshots.vacuum(real, retention_s=0.0)
    assert orphans >= 1 and not os.path.exists(litter)
    # and the table still reads
    assert store.load("ts_numeric").count() == 1


def test_vacuum_reclaims_crashed_stage_dirs(spark, store):
    """kill-9 mid-_stage_move leaves a .stage_<table>_* dir at the
    store root; store.vacuum sweeps aged ones."""
    import time as _time

    store.write_numeric("s", {"value": 1.0}, 1000)
    litter = os.path.join(store.root, ".stage_ts_numeric_deadbeef0000")
    os.makedirs(litter)
    old = _time.time() - 10_000
    os.utime(litter, (old, old))
    store.vacuum("ts_numeric", retention_s=0.0)
    assert not os.path.exists(litter)
    # fresh stage dirs survive (an in-flight writer is using them)
    fresh = os.path.join(store.root, ".stage_ts_numeric_deadbeef0001")
    os.makedirs(fresh)
    store.vacuum("ts_numeric", retention_s=0.0)
    assert os.path.exists(fresh)


def test_reader_cache_serves_fresh_data_after_writes(spark, store):
    """HEAD reads reuse the constructed reader (building one re-lists
    every live file — O(files) py4j round trips); a commit bumps the
    manifest version out of the cache key, so readers can never see
    stale data. Time-travel reads bypass the cache (their
    reclaimed-files check must re-run)."""
    store.write_numeric("s", {"value": 1.0}, 1000)
    assert [r.value for r in store.load("ts_numeric").collect()] == [1.0]
    assert len(store._reader_cache) >= 1
    # same head version -> same DataFrame object (the cache hit)
    d1 = store._read_table("ts_numeric")
    d2 = store._read_table("ts_numeric")
    assert d1 is d2
    store.write_numeric("s", {"value": 2.0}, 2000)
    got = sorted(r.value for r in store.load("ts_numeric").collect())
    assert got == [1.0, 2.0]  # new version -> new reader -> fresh rows
    v1 = store.history("ts_numeric")[-1].version
    before = len(store._reader_cache)
    store._read_table("ts_numeric", version=v1)  # pinned read
    assert len(store._reader_cache) == before  # not cached


def test_empty_partition_identifiers_rejected(store):
    """An empty partition value has no faithful physical form (Hive
    maps '' AND null to __HIVE_DEFAULT_PARTITION__, read back as
    NULL) — mutations reject loudly instead of splitting a series."""
    from zestdb_spark.errors import BadRequest

    with pytest.raises(BadRequest, match="non-empty"):
        store.write_numeric("", {"value": 1.0}, 1000)
    with pytest.raises(BadRequest, match="non-empty"):
        store.kv_upsert("json", "", "k", '"v"')
    store.kv_delete("json", "")  # no-op, never a commit
    assert not store._exists("kv_json")


def test_concurrent_fastpath_writers_all_land(spark, store):
    """Lock-free appends from many threads merge through the commit
    CAS (snapshots.commit retries fold concurrent adds): every row,
    every provenance stamp, and every manifest entry must land —
    the fast paths changed the file WRITER, never the commit
    protocol. KV upserts to distinct namespaces serialize behind the
    table lock but must also all land."""
    import threading

    errs: list = []

    def ts_worker(k: int) -> None:
        try:
            for i in range(10):
                store.write_numeric(f"s{k}", {"value": float(i)}, 1000 + i)
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    def kv_worker(k: int) -> None:
        try:
            for i in range(5):
                store.kv_upsert("json", f"ns{k}", f"k{i}", f'"{i}"')
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    threads = [
        threading.Thread(target=ts_worker, args=(k,)) for k in range(4)
    ] + [threading.Thread(target=kv_worker, args=(k,)) for k in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert store.load("ts_numeric").count() == 40
    assert store.load("kv_json").count() == 15
    # every data row provenance-stamped, every write logged exactly once
    prov = store.load_with_provenance("ts_numeric")
    assert prov.filter("write_id is null").count() == 0
    assert store.load("write_log").count() == 40 + 15
    wids = [r.write_id for r in store.load("write_log").collect()]
    assert len(set(wids)) == len(wids)  # no duplicated write ids
    # manifest is consistent: live files == files on disk that readers see
    snap = snapshots.latest(store._path("ts_numeric"))
    assert len(snap.files) == 40


def test_vacuum_stage_reclaim_is_pid_owned(spark, store):
    """The owner sidecar decides, not mtimes — but ONLY for sidecars
    recorded on THIS host: a LIVE same-host owner's staging tree
    survives any age (a straggler task may go quiet past every floor
    while its job still owns the tree), a DEAD same-host owner's tree
    is reclaimed immediately, no floor wait."""
    import time as _time

    from zestdb_spark import coordination

    store.write_numeric("s", {"value": 1.0}, 1000)
    # live owner, ancient mtimes → must survive
    live = os.path.join(store.root, ".stage_ts_numeric_liveowner000")
    os.makedirs(live)
    with open(f"{live}.owner", "w") as f:
        f.write(f"{os.getpid()} {coordination.host_id()}")
    old = _time.time() - 10_000
    os.utime(live, (old, old))
    store.vacuum("ts_numeric", retention_s=0.0)
    assert os.path.exists(live)
    # dead owner, FRESH mtimes → reclaimed immediately
    dead = os.path.join(store.root, ".stage_ts_numeric_deadowner000")
    os.makedirs(dead)
    with open(f"{dead}.owner", "w") as f:
        # beyond pid_max — never a live process
        f.write(f"999999999 {coordination.host_id()}")
    store.vacuum("ts_numeric", retention_s=0.0)
    assert not os.path.exists(dead)
    assert not os.path.exists(f"{dead}.owner")
    os.unlink(f"{live}.owner")


def test_vacuum_stage_reclaim_distrusts_foreign_host_pids(spark, store):
    """ADVICE r9 (high): over shared storage, a vacuum on host B will
    almost never find host A's pid in ITS process table — treating
    that absence as 'writer dead' would rmtree a LIVE remote append's
    staging tree mid-write. A sidecar recorded on another host (or in
    the legacy pid-only format) must fall back to the conservative
    newest-mtime floor: fresh trees survive, only genuinely old ones
    are reclaimed."""
    import time as _time

    store.write_numeric("s", {"value": 1.0}, 1000)
    # FOREIGN host, dead-looking pid, FRESH mtimes → must survive
    foreign = os.path.join(store.root, ".stage_ts_numeric_foreign00000")
    os.makedirs(foreign)
    with open(f"{foreign}.owner", "w") as f:
        f.write("999999999 otherhost:not-this-boot")
    store.vacuum("ts_numeric", retention_s=0.0)
    assert os.path.exists(foreign), "fresh foreign-host stage tree reclaimed"
    # FOREIGN host, ancient mtimes → reclaimed via the mtime floor,
    # sidecar removed with it
    old = _time.time() - 10_000
    os.utime(foreign, (old, old))
    store.vacuum("ts_numeric", retention_s=0.0)
    assert not os.path.exists(foreign)
    assert not os.path.exists(f"{foreign}.owner")
    # legacy pid-only sidecar (pre-host-identity writer) → same
    # conservative treatment, even for a pid that is dead HERE
    legacy = os.path.join(store.root, ".stage_ts_numeric_legacy000000")
    os.makedirs(legacy)
    with open(f"{legacy}.owner", "w") as f:
        f.write("999999999")
    store.vacuum("ts_numeric", retention_s=0.0)
    assert os.path.exists(legacy), "fresh legacy-format stage tree reclaimed"
    os.utime(legacy, (old, old))
    store.vacuum("ts_numeric", retention_s=0.0)
    assert not os.path.exists(legacy)
