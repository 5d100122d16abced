"""zest_changes streaming source (sources/changes_source.py): manifest
versions as exactly-once Structured Streaming offsets; append files
only (rw-* rewrites invisible); loud failure on vacuum-pruned offsets."""

from __future__ import annotations

import os

import pytest

from zestdb_spark import snapshots
from zestdb_spark.sources.changes_source import ZestChangesStreamReader


def _reader(root: str, **opts) -> ZestChangesStreamReader:
    return ZestChangesStreamReader({"root": root, **opts})


def test_stream_follows_appends_and_ignores_rewrites(spark, tmp_path):
    from zestdb_spark.api import ZestEngine
    from zestdb_spark.sources import register

    register(spark)
    eng = ZestEngine(spark, str(tmp_path / "cs"))
    for t in (100, 200, 300):
        eng.post(f"/ts/a/at/{t}", {"value": float(t)})

    q = (
        spark.readStream.format("zest_changes")
        .option("root", eng.store._path("ts_numeric"))
        .load()
        .writeStream.format("memory")
        .queryName("changes_t1")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {(r.series_id, r.timestamp, r.value) for r in spark.sql("SELECT * FROM changes_t1").collect()}
        assert got == {("a", 100, 100.0), ("a", 200, 200.0), ("a", 300, 300.0)}

        # a partial delete commits a rewrite: the feed must stay silent
        eng.delete("/ts/a/range/150/250")
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM changes_t1").count() == 3

        # a genuine append lands exactly once
        eng.post("/ts/b/at/400", {"value": 4.0})
        q.processAllAvailable()
        got = {(r.series_id, r.timestamp) for r in spark.sql("SELECT * FROM changes_t1").collect()}
        assert got == {("a", 100), ("a", 200), ("a", 300), ("b", 400)}
    finally:
        q.stop()


def test_offsets_walk_per_version_diffs(spark, tmp_path):
    """Planner unit contract: (s, e] walks each manifest pair, keeps
    part-* adds only, and an append DELIVERED then deleted in-window is
    still delivered (a live observer would have seen it)."""
    from zestdb_spark.api import ZestEngine

    eng = ZestEngine(spark, str(tmp_path / "po"))
    eng.post("/ts/a/at/100", {"value": 1.0})              # v0
    eng.post("/ts/a/at/200", {"value": 2.0})              # v1
    eng.delete("/ts/a/range/150/250")                     # v2: removes v1's file
    root = eng.store._path("ts_numeric")

    r = _reader(root)
    assert r.initialOffset() == {"version": -1}
    assert r.latestOffset() == {"version": 2}

    # catch-up from -1 replays CURRENT content: the delete rewrote only
    # the file holding row 200, so v0's untouched part- file (row 100)
    # is the whole live table, and a new subscriber must get it
    (v0_file,) = snapshots.read_version(root, 0).files
    live = [p.path for p in r.partitions({"version": -1}, {"version": 2})]
    assert live == [os.path.join(root, v0_file)]

    # per-version walk ACROSS the delete: v1's append is delivered even
    # though v2 removed it; the rewrite's rw- files never appear
    walked = [p.path for p in r.partitions({"version": 0}, {"version": 2})]
    assert len(walked) == 1 and "part-" in os.path.basename(walked[0])

    # empty range plans nothing
    assert r.partitions({"version": 2}, {"version": 2}) == []


def test_pruned_offset_fails_loudly(spark, tmp_path):
    from zestdb_spark.api import ZestEngine

    eng = ZestEngine(spark, str(tmp_path / "pr"))
    eng.post("/ts/a/at/100", {"value": 1.0})
    eng.delete("/ts/a/since/0")
    root = eng.store._path("ts_numeric")
    # simulate vacuum pruning the stream's next manifest
    os.unlink(os.path.join(root, "_zest_log", "v%012d.json" % 0))
    r = _reader(root)
    with pytest.raises(RuntimeError, match="pruned"):
        r.partitions({"version": 0}, {"version": 1})


def test_starting_version_skips_history(spark, tmp_path):
    from zestdb_spark.api import ZestEngine

    eng = ZestEngine(spark, str(tmp_path / "sv"))
    eng.post("/ts/a/at/100", {"value": 1.0})  # v0 — history to skip
    root = eng.store._path("ts_numeric")
    head = snapshots.latest(root).version
    r = _reader(root, startingVersion=str(head))
    assert r.initialOffset() == {"version": head}
    eng.post("/ts/a/at/200", {"value": 2.0})
    new = r.partitions(r.initialOffset(), r.latestOffset())
    assert len(new) == 1  # only the post-start append


def test_restart_resumes_exactly_once(spark, tmp_path):
    """THE offset claim: a query restarted from its checkpoint resumes
    from the last committed table version — history is not replayed,
    nothing is dropped, appends land exactly once."""
    from zestdb_spark.api import ZestEngine
    from zestdb_spark.sources import register

    register(spark)
    eng = ZestEngine(spark, str(tmp_path / "rs"))
    eng.post("/ts/a/at/100", {"value": 1.0})
    ck = str(tmp_path / "ck")
    out = str(tmp_path / "out")

    def run_query():
        # parquet sink: the fault-tolerant exactly-once path (the
        # memory sink refuses checkpoint recovery by design)
        return (
            spark.readStream.format("zest_changes")
            .option("root", eng.store._path("ts_numeric"))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .start()
        )

    q = run_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert spark.read.parquet(out).count() == 1

    # appends while the stream is DOWN, then restart from the checkpoint
    eng.post("/ts/a/at/200", {"value": 2.0})
    eng.post("/ts/b/at/300", {"value": 3.0})
    q = run_query()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # the sink accumulated each row exactly once: the catch-up batch was
    # not replayed after the restart, the missed appends were not dropped
    got = {(r.series_id, r.timestamp) for r in spark.read.parquet(out).collect()}
    assert got == {("a", 100), ("a", 200), ("b", 300)}


def test_composes_with_windowed_rollup(spark, tmp_path):
    """The source is an ordinary streaming DataFrame: event-time
    windowed aggregation with watermark runs straight on it."""
    import pyspark.sql.functions as F

    from zestdb_spark.api import ZestEngine
    from zestdb_spark.sources import register
    from zestdb_spark.streaming import observe

    register(spark)
    eng = ZestEngine(spark, str(tmp_path / "cw"))
    base = 1_704_067_200_000  # 2024-01-01T00:00Z
    for minute, v in ((1, 1.0), (2, 2.0), (7, 10.0)):
        eng.post(f"/ts/s1/at/{base + minute * 60_000}", {"value": v})

    stream = (
        spark.readStream.format("zest_changes")
        .option("root", eng.store._path("ts_numeric"))
        .load()
        .select(
            "series_id",
            F.timestamp_millis(F.col("timestamp")).alias("ts"),
            "value",
        )
    )
    agg = observe.windowed_rollup(stream, "5 minutes", "10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("cs_rollup")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
        out = {
            (r["series_id"], r["window"].start.minute): (r["n"], r["sum_value"])
            for r in spark.sql("SELECT * FROM cs_rollup").collect()
        }
        assert out[("s1", 0)] == (2, 3.0)
        assert out[("s1", 5)] == (1, 10.0)
    finally:
        q.stop()


def test_max_versions_per_batch_paces_offsets(spark, tmp_path):
    """Admission control: latestOffset advances at most
    maxVersionsPerBatch past the last planned batch, and repeated
    trigger rounds still converge to the head."""
    from zestdb_spark.api import ZestEngine

    eng = ZestEngine(spark, str(tmp_path / "mv"))
    for i in range(5):
        eng.post(f"/ts/a/at/{(i + 1) * 1000}", {"value": float(i)})  # v0..v4

    r = _reader(eng.store._path("ts_numeric"), maxVersionsPerBatch="2")
    cur = r.initialOffset()
    seen = 0
    rounds = 0
    while True:
        nxt = r.latestOffset()
        if nxt == cur:
            break
        assert nxt["version"] - cur["version"] <= 2
        seen += len(r.partitions(cur, nxt))
        cur = nxt
        rounds += 1
    assert cur == {"version": 4}
    # capped catch-up replays content AS OF v1 (2 files), then the
    # diff batches deliver v2..v4 — every append exactly once
    assert seen == 5
    assert rounds == 3  # the backlog was actually split up


def test_restore_commits_do_not_reenter_the_feed(spark, tmp_path):
    """A restore re-references ORIGINAL part-* files — every one of
    those rows was delivered when first appended, so the feed must stay
    silent on op=restore commits (append purity), while the diff base
    still advances so later genuine appends deliver correctly."""
    from zestdb_spark.api import ZestEngine

    eng = ZestEngine(spark, str(tmp_path / "rf"))
    eng.post("/ts/a/at/100", {"value": 1.0})   # v0
    eng.post("/ts/a/at/200", {"value": 2.0})   # v1
    eng.delete("/ts/a/range/150/250")          # v2: rewrite drops row 200
    root = eng.store._path("ts_numeric")

    eng.store.restore("ts_numeric", 1)         # v3: re-adds v1's part file
    hist = eng.store.history("ts_numeric")
    assert hist[0].op == "restore" and hist[0].version == 3

    r = _reader(root)
    # the restore commit itself delivers NOTHING
    assert r.partitions({"version": 2}, {"version": 3}) == []
    # ...but a genuine append after it still flows
    eng.post("/ts/b/at/400", {"value": 4.0})   # v4
    parts = r.partitions({"version": 3}, {"version": 4})
    assert len(parts) == 1 and parts[0].series_id == "b"
    # and a window SPANNING the restore delivers only the new append
    parts = r.partitions({"version": 2}, {"version": 4})
    assert [p.series_id for p in parts] == ["b"]


def test_unstamped_pinned_schema_resolves_by_name(spark, tmp_path):
    """Pre-stamp checkpoints (pinned schemas without zest_physical
    metadata) predate column mapping, so pinned logical names ARE the
    physical names — the fallback must resolve BY NAME, not by
    position (ADVICE r11: pin (doc_id, host, score), drop host →
    positional matching would map pinned 'host' onto physical 'score'
    and emit another column's data silently)."""
    from zestdb_spark.storage import ZestStore

    store = ZestStore(spark, str(tmp_path / "unstamped"))
    store.create_table(
        "t",
        spark.createDataFrame(
            [(1, 2, 3.0)], "doc_id long, host long, score double"
        ),
    )
    root = os.path.join(store.root, "t")
    # the pinned schema a pre-stamp checkpoint would carry: the full
    # original column set, NO zest_physical metadata on any field
    pinned = spark.createDataFrame(
        [], "doc_id long, host long, score double"
    ).schema
    assert all("zest_physical" not in (f.metadata or {}) for f in pinned.fields)

    store.drop_table_column("t", "host")
    r = ZestChangesStreamReader({"root": root}, pinned_schema=pinned)
    # identity resolution for every pinned name — including the one
    # no longer in the current meta (its physical files still carry it)
    assert r.mapping == {
        "doc_id": "doc_id",
        "host": "host",
        "score": "score",
    }

    # and after a post-drop RENAME of a surviving column, the pinned
    # (pre-mapping) name still resolves to itself, not to the new
    # logical name's physical slot
    store.rename_table_column("t", "score", "quality")
    r2 = ZestChangesStreamReader({"root": root}, pinned_schema=pinned)
    assert r2.mapping["score"] == "score"
