"""Manifest-level data skipping (Delta/Iceberg file statistics).

Every commit records per-file min/max for the table's stats columns
(storage._STATS_COLS) in the snapshot manifest; ``ZestStore.load``
accepts scan HINTS (since_ms/until_ms/series) that drop files the
manifest proves cannot match, before Spark ever lists or plans them.

Contracts pinned here:
- hints never change RESULTS — the hinted frame is a superset of the
  matching rows and callers apply exact predicates (so hinted+filter
  == full+filter, always);
- stats pruning works WITHIN a partition leaf (finer than the
  series_id/time_bucket directory pruning);
- stats survive the whole manifest life cycle: append CAS merge,
  delete rewrite, compaction, restore;
- pruning is conservative: files without stats (pre-stats bootstrap)
  are always kept.

The reference walks a per-series interval index to skip shards
(src/timeseries/timeseries.re:197-231); this is the same skip realized
through the public table-format recipe.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from zestdb_spark import snapshots
from zestdb_spark.api import ZestEngine
from zestdb_spark.schema import TS_NUMERIC
from zestdb_spark.storage import _DAY_MS
from tests.engine_reference import unhinted_get


def _mk_rows(spark, spec):
    """spec: [(series, ts, value)] → canonical TS_NUMERIC frame."""
    rows = [(s, int(t), float(v), None, None) for s, t, v in spec]
    return spark.createDataFrame(rows, TS_NUMERIC)


def _collect(df):
    return sorted(
        (r.series_id, r.timestamp, r.value)
        for r in df.select("series_id", "timestamp", "value").collect()
    )


def test_append_records_footer_stats(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "s"))
    eng.post("/ts/a/at/1000", {"value": 1.0})
    eng.post(f"/ts/a/at/{2 * _DAY_MS + 5}", {"value": 2.0})
    snap = eng.store._snapshot("ts_numeric")
    assert snap is not None and len(snap.files) == 2
    by_ts = {}
    for rel in snap.files:
        st = snap.stats.get(rel)
        assert st is not None, f"no stats recorded for {rel}"
        assert st["rows"] == 1
        assert st["min"]["timestamp"] == st["max"]["timestamp"]
        by_ts[st["min"]["timestamp"]] = rel
    assert set(by_ts) == {1000, 2 * _DAY_MS + 5}
    # stats round-trip through the JSON manifest (not just in-memory)
    reread = snapshots.latest(eng.store._path("ts_numeric"))
    assert reread.stats == snap.stats


def test_hinted_load_prunes_files_but_not_results(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "s"))
    spec = [
        (s, d * _DAY_MS + off, d * 10 + off)
        for s in ("a", "b", "c")
        for d in range(4)
        for off in (100, 200)
    ]
    eng.ingest_bulk(_mk_rows(spark, spec), path="/ts/bulk/x", client="t")
    store = eng.store

    lo, hi = 1 * _DAY_MS, 2 * _DAY_MS + 150
    cond = F.col("timestamp").between(lo, hi) & F.col("series_id").isin("a", "b")

    full = store.load("ts_numeric").filter(cond)
    hinted = store.load(
        "ts_numeric", since_ms=lo, until_ms=hi, series={"a", "b"}
    ).filter(cond)
    assert _collect(hinted) == _collect(full) != []
    # the hint planned strictly fewer files: series c and days 0/3 gone
    assert 0 < len(hinted.inputFiles()) < len(full.inputFiles())
    for f in hinted.inputFiles():
        assert "series_id=c" not in f
        assert "time_bucket=0" not in f and "time_bucket=3" not in f


def test_stats_prune_within_one_partition_leaf(spark, tmp_path):
    """Two appends land in the SAME (series, day-bucket) leaf with
    disjoint intra-day time ranges — directory pruning cannot separate
    them, the per-file timestamp min/max must."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    eng.ingest_bulk(
        _mk_rows(spark, [("a", 1000, 1), ("a", 2000, 2)]),
        path="/ts/bulk/early",
        client="t",
    )
    eng.ingest_bulk(
        _mk_rows(spark, [("a", 50_000_000, 3), ("a", 50_000_500, 4)]),
        path="/ts/bulk/late",
        client="t",
    )
    store = eng.store
    full = store.load("ts_numeric")
    hinted = store.load("ts_numeric", since_ms=50_000_000)
    # both ingests share the one (a, bucket-0) leaf; the hint must
    # drop every early-ingest file on timestamp stats alone
    assert 0 < len(hinted.inputFiles()) < len(full.inputFiles())
    snap = eng.store._snapshot("ts_numeric")
    kept = {os.path.basename(f) for f in hinted.inputFiles()}
    for rel in snap.files:
        early = snap.stats[rel]["max"]["timestamp"] < 50_000_000
        assert early == (os.path.basename(rel) not in kept)
    got = _collect(hinted.filter(F.col("timestamp") >= 50_000_000))
    assert got == [("a", 50_000_000, 3.0), ("a", 50_000_500, 4.0)]
    # superset contract: the hinted frame may hold extra rows, callers
    # filter — but nothing matching may ever be missing
    assert _collect(hinted) == _collect(
        full.filter(F.col("timestamp") >= 50_000_000)
    )


def test_missing_stats_files_are_kept(spark, tmp_path):
    """A manifest entry without stats (pre-stats writer, bootstrap)
    must survive every time hint — pruning never guesses."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    eng.post("/ts/a/at/1000", {"value": 1.0})
    doc_rel = eng.store._snapshot("ts_numeric").files[0]
    # direct predicate check with stats WITHHELD: bucket matches → keep
    from zestdb_spark.storage import ZestStore

    assert ZestStore._file_may_match(doc_rel, None, 900, 1100, {"a"})
    # the DIRECTORY evidence alone still prunes confidently
    assert not ZestStore._file_may_match(doc_rel, None, 10**12, None, {"a"})
    assert not ZestStore._file_may_match(doc_rel, None, None, None, {"zz"})
    # a file with NO evidence at all (no partition dirs, no stats)
    # survives any hint
    assert ZestStore._file_may_match("part-0.parquet", None, 10**12, None, {"zz"})


def test_delete_and_compact_refresh_stats(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "s"))
    spec = [("a", t, t) for t in (1000, 2000, 3000, 4000)]
    for s, t, v in spec:  # one commit per row → 4 small files
        eng.post(f"/ts/a/at/{t}", {"value": float(v)})
    eng.delete("/ts/a/range/1500/2500")
    eng.store.compact("ts_numeric")
    snap = eng.store._snapshot("ts_numeric")
    assert snap.files, "compact must leave live files"
    for rel in snap.files:
        st = snap.stats.get(rel)
        assert st is not None, f"rewritten file lost stats: {rel}"
    tss = sorted(
        v
        for rel in snap.files
        for v in (
            snap.stats[rel]["min"]["timestamp"],
            snap.stats[rel]["max"]["timestamp"],
        )
    )
    assert tss[0] == 1000 and tss[-1] == 4000
    # post-compact the leaf is ONE file spanning 1000..4000, so the
    # hint keeps it whole (superset contract) — the exact filter on
    # top returns precisely the late rows
    got = _collect(
        eng.store.load("ts_numeric", since_ms=3000).filter(
            F.col("timestamp") >= 3000
        )
    )
    assert got == [("a", 3000, 3000.0), ("a", 4000, 4000.0)]


def test_restore_regains_stats(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "s"))
    eng.ingest_bulk(
        _mk_rows(spark, [("a", 1000, 1), ("b", 2000, 2)]),
        path="/ts/bulk/x",
        client="t",
    )
    pre = eng.store.history("ts_numeric")[0].version
    eng.delete("/ts/a/since/0")
    eng.store.restore("ts_numeric", pre)
    snap = eng.store._snapshot("ts_numeric")
    assert _collect(eng.store.load("ts_numeric")) == [
        ("a", 1000, 1.0),
        ("b", 2000, 2.0),
    ]
    # re-added files carry stats again (recomputed from their footers)
    for rel in snap.files:
        assert snap.stats.get(rel), f"restored file has no stats: {rel}"


def test_engine_path_reads_use_pruned_scan(spark, tmp_path):
    """The GET path wires the compiled plan's window/ids into the scan
    hint — and the answer matches the unpruned plan exactly."""
    import json

    eng = ZestEngine(spark, str(tmp_path / "s"))
    spec = [
        ("a", 100, 1),
        ("a", 3 * _DAY_MS, 2),
        ("b", 3 * _DAY_MS + 7, 5),
        ("c", 9 * _DAY_MS, 9),
    ]
    eng.ingest_bulk(_mk_rows(spark, spec), path="/ts/bulk/x", client="t")
    got = json.loads(eng.get(f"/ts/a,b/range/{2 * _DAY_MS}/{4 * _DAY_MS}"))
    assert {(r["timestamp"], r["data"]["value"]) for r in got} == {
        (3 * _DAY_MS, 2.0),
        (3 * _DAY_MS + 7, 5.0),
    }
    got = json.loads(eng.get(f"/ts/c/since/{8 * _DAY_MS}/sum"))
    assert got == {"result": 9.0}


def test_snapshot_commit_merges_stats_under_cas(tmp_path):
    """snapshots.commit stats semantics, no Spark: adds carry stats,
    survivors keep theirs, removed files drop theirs."""
    d = str(tmp_path / "t")
    os.makedirs(d)
    s_a = {"rows": 2, "min": {"timestamp": 10}, "max": {"timestamp": 20}}
    s_b = {"rows": 1, "min": {"timestamp": 99}, "max": {"timestamp": 99}}
    snapshots.commit(d, adds=["a.parquet"], stats={"a.parquet": s_a})
    snapshots.commit(d, adds=["b.parquet"], stats={"b.parquet": s_b})
    head = snapshots.latest(d)
    assert head.stats == {"a.parquet": s_a, "b.parquet": s_b}
    snapshots.commit(d, removes=["a.parquet"])
    head = snapshots.latest(d)
    assert head.files == ["b.parquet"]
    assert head.stats == {"b.parquet": s_b}
    # stats offered for a file that is not live are ignored
    snapshots.commit(d, stats={"ghost.parquet": s_a})
    assert snapshots.latest(d).stats == {"b.parquet": s_b}


def test_compact_clusters_by_time(spark, tmp_path):
    """Compaction range-partitions + sorts by timestamp, so the merged
    files' manifest stats are tight and DISJOINT — post-maintenance, a
    time hint isolates single files even inside one day-leaf."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    # interleaved appends inside ONE day bucket
    eng.ingest_bulk(
        _mk_rows(spark, [("a", t, t) for t in (100, 5000, 200, 6000)]),
        path="/ts/bulk/one",
        client="t",
    )
    eng.ingest_bulk(
        _mk_rows(spark, [("a", t, t) for t in (150, 5500, 250, 6500)]),
        path="/ts/bulk/two",
        client="t",
    )
    eng.store.compact("ts_numeric", target_files=2)
    snap = eng.store._snapshot("ts_numeric")
    assert len(snap.files) == 2
    spans = sorted(
        (snap.stats[r]["min"]["timestamp"], snap.stats[r]["max"]["timestamp"])
        for r in snap.files
    )
    # disjoint, ordered ranges — the clustering contract
    assert spans[0][1] < spans[1][0]
    # content preserved verbatim
    assert _collect(eng.store.load("ts_numeric")) == sorted(
        ("a", t, float(t)) for t in (100, 150, 200, 250, 5000, 5500, 6000, 6500)
    )
    # and a narrow hint now isolates one file within the leaf
    hinted = eng.store.load("ts_numeric", since_ms=5000)
    assert len(hinted.inputFiles()) == 1


def test_tail_hint_reads_only_the_newest_file(spark, tmp_path):
    """After K one-row posts to a series, the last/1 tail hint plans
    exactly the newest post's file — the reference's newest-shard walk
    from manifest stats, before Spark lists anything."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    for t in range(1, 7):
        eng.post(f"/ts/s/at/{t * 1000}", {"value": float(t)})
    store = eng.store
    hinted = store.load("ts_numeric", series={"s"}, tail=("last", 1))
    (f,) = hinted.inputFiles()
    snap = store._snapshot("ts_numeric")
    (rel,) = [r for r in snap.files if f.endswith(os.path.basename(r))]
    assert snap.stats[rel]["max"]["timestamp"] == 6000
    assert len(store.load("ts_numeric", tail=("first", 2)).inputFiles()) == 2
    # every live file of the series, unhinted
    assert len(store.load("ts_numeric").inputFiles()) == 6


def test_tail_files_decision():
    """snapshots.tail_files, no Spark: inclusive edges, loosest bound
    over series, never counting a file that may hold null timestamps,
    and no pruning at all when any file lacks evidence."""
    def st(rows, lo, hi, nulls=0):
        return {
            "rows": rows,
            "min": {"timestamp": lo},
            "max": {"timestamp": hi},
            "nulls": {"timestamp": nulls},
        }

    stats = {
        "series_id=a/time_bucket=0/f1.parquet": st(10, 0, 9),
        "series_id=a/time_bucket=0/f2.parquet": st(10, 9, 19),
        "series_id=a/time_bucket=0/f3.parquet": st(1, 20, 20),
        "series_id=b/time_bucket=0/g1.parquet": st(5, 0, 4),
        "series_id=b/time_bucket=0/g2.parquet": st(5, 100, 104),
    }
    files = sorted(stats)
    a1, a2, a3, b1, b2 = files
    assert snapshots.tail_files(files, stats, "last", 1) == ([a3, b2], 20)
    # f2 ends on 9, f1 starts on 9: the tie at the edge keeps f1
    assert snapshots.tail_files(files, stats, "last", 2) == ([a1, a2, a3, b2], 9)
    assert snapshots.tail_files(files, stats, "first", 3) == ([a1, a2, b1], 9)
    # n beyond a series: all of it, and no row bound
    assert snapshots.tail_files(files, stats, "last", 11)[1] is None
    # a file with nulls is kept and not counted
    stats[b1] = st(5, 0, 4, nulls=1)
    assert snapshots.tail_files(files, stats, "first", 1) == ([a1, a2, b1, b2], 104)
    # no null count recorded: same treatment
    del stats[b1]["nulls"]
    assert snapshots.tail_files(files, stats, "last", 1) == ([a3, b1, b2], 20)
    # a file without stats, or outside a series partition: prune nothing
    statless = {k: v for k, v in stats.items() if k != b1}
    assert snapshots.tail_files(files, statless, "last", 1) == (files, None)
    odd = files + ["part-0.parquet"]
    odd_stats = {**stats, "part-0.parquet": st(1, 0, 0)}
    assert snapshots.tail_files(odd, odd_stats, "last", 1) == (odd, None)


def _mk_tail_engine(spark, root):
    """A store whose last/first reads exercise every tail-pruning edge:
    a tie on the boundary timestamp split across two files of one leaf,
    two series with very different bounds, multi-bucket series."""
    eng = ZestEngine(spark, root)
    # a: two bulk files in ONE leaf sharing timestamp 1000 at their edge
    # (one input partition each, so each ingest writes one file)
    eng.ingest_bulk(
        _mk_rows(spark, [("a", t, t % 7) for t in range(100, 1001, 100)]).coalesce(1),
        path="/ts/bulk/a1",
        client="t",
    )
    eng.ingest_bulk(
        _mk_rows(
            spark,
            [("a", 1000, 50), ("a", 1000, 60)]
            + [("a", t, t % 5) for t in range(1100, 2001, 100)],
        ).coalesce(1),
        path="/ts/bulk/a2",
        client="t",
    )
    # b: old, one-row posts across three day buckets
    for d in range(3):
        for i in range(3):
            eng.post(f"/ts/b/at/{d * _DAY_MS + i * 10}", {"value": float(i), "k": "x"})
    # c: newest, bulk over two buckets
    eng.ingest_bulk(
        _mk_rows(
            spark,
            [("c", 40 * _DAY_MS + i, i) for i in range(6)]
            + [("c", 41 * _DAY_MS + i, -i) for i in range(6)],
        ),
        path="/ts/bulk/c",
        client="t",
    )
    return eng


_TAIL_PATHS = (
    "/ts/a/latest",
    "/ts/a/earliest",
    "/ts/a/last/11",  # ends exactly on the tied 1000s
    "/ts/a/last/12",
    "/ts/a/first/10",
    "/ts/a/first/11",
    "/ts/a/last/5000",  # n larger than the series
    "/ts/a,b/last/3",  # two series, very different bounds
    "/ts/b,c/first/4",
    "/ts/a,b,c/latest",
    "/ts/a,b,c/earliest",
    "/ts/b/last/4/filter/k/equals/x",
    "/ts/c/first/7/sum",
    "/ts/ghost/last/2",
)


def _assert_engine_parity(eng, paths=_TAIL_PATHS):
    for path in paths:
        assert eng.get(path) == unhinted_get(eng, path), path


def test_engine_tail_reads_match_unhinted_plan(spark, tmp_path):
    eng = _mk_tail_engine(spark, str(tmp_path / "s"))
    _assert_engine_parity(eng)
    # the tie really is split across two files of one leaf, and the
    # hint keeps both
    hinted = eng.store.load("ts_numeric", series={"a"}, tail=("last", 11))
    assert len(hinted.inputFiles()) == 2
    # the hint pruned something for the one-row-post series
    assert len(
        eng.store.load("ts_numeric", series={"b"}, tail=("last", 1)).inputFiles()
    ) == 1


def test_engine_tail_reads_after_delete_and_restore(spark, tmp_path):
    eng = _mk_tail_engine(spark, str(tmp_path / "s"))
    pre = eng.store.history("ts_numeric")[0].version
    eng.delete("/ts/a/range/1500/2000")  # the newest range of a
    eng.delete(f"/ts/c/since/{41 * _DAY_MS}")  # c's newest bucket
    assert json.loads(eng.get("/ts/a/latest"))[0]["timestamp"] == 1400
    _assert_engine_parity(eng)
    eng.store.restore("ts_numeric", pre)
    assert json.loads(eng.get("/ts/a/latest"))[0]["timestamp"] == 2000
    _assert_engine_parity(eng)


def test_engine_tail_reads_blob(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "s"))
    for i in range(6):
        eng.post(f"/ts/blob/bx/at/{1000 + (i // 2) * 10}", {"seq": i})
    for i in range(3):
        eng.post(f"/ts/blob/by/at/{i * _DAY_MS}", [i])
    _assert_engine_parity(
        eng,
        (
            "/ts/blob/bx/latest",
            "/ts/blob/bx/earliest",
            "/ts/blob/bx/last/3",  # edge tie: pairs share timestamps
            "/ts/blob/bx/first/3",
            "/ts/blob/bx,by/last/2",
            "/ts/blob/by/first/10",
        ),
    )
    assert len(
        eng.store.load("ts_blob", series={"bx"}, tail=("last", 2)).inputFiles()
    ) == 2


def test_engine_tail_read_with_statless_file_prunes_nothing(spark, tmp_path):
    """A live file with no stats entry (pre-stats writer) makes the
    tail hint keep every file of the read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    eng = _mk_tail_engine(spark, str(tmp_path / "s"))
    table_dir = eng.store._path("ts_numeric")
    rel = "series_id=a/time_bucket=0/part-nostats.parquet"
    pq.write_table(
        pa.table(
            {
                "timestamp": pa.array([5000, 50], pa.int64()),
                "value": pa.array([1.5, 2.5]),
                "tag_name": pa.array([None, None], pa.string()),
                "tag_value": pa.array([None, None], pa.string()),
                "write_id": pa.array([None, None], pa.int64()),
            }
        ),
        os.path.join(table_dir, rel),
    )
    snapshots.commit(table_dir, adds=[rel])  # no stats offered
    snap = eng.store._snapshot("ts_numeric")
    assert rel in snap.files and rel not in snap.stats
    hinted = eng.store.load("ts_numeric", series={"a", "b"}, tail=("last", 1))
    assert len(hinted.inputFiles()) == len(
        eng.store.load("ts_numeric", series={"a", "b"}).inputFiles()
    )
    assert json.loads(eng.get("/ts/a/latest"))[0]["timestamp"] == 5000
    assert json.loads(eng.get("/ts/a/earliest"))[0]["timestamp"] == 50
    _assert_engine_parity(eng)


def test_engine_tail_read_with_null_timestamps(spark, tmp_path):
    """Null timestamps sort FIRST in first/earliest order: a file that
    holds one must never be pruned, its rows never count towards n,
    and the pushed timestamp bound must let null rows through."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    eng = _mk_tail_engine(spark, str(tmp_path / "s"))
    # a file mixing a null and a late timestamp, committed through the
    # store so its footer stats (null count 1) reach the manifest
    rel = "series_id=a/time_bucket=0/part-nulls.parquet"
    pq.write_table(
        pa.table(
            {
                "timestamp": pa.array([None, 3000], pa.int64()),
                "value": pa.array([7.0, 8.0]),
                "tag_name": pa.array([None, None], pa.string()),
                "tag_value": pa.array([None, None], pa.string()),
                "write_id": pa.array([None, None], pa.int64()),
            }
        ),
        os.path.join(eng.store._path("ts_numeric"), rel),
    )
    eng.store._commit("ts_numeric", adds=[rel], op="append")
    st = eng.store._snapshot("ts_numeric").stats[rel]
    assert st["nulls"]["timestamp"] == 1 and st["min"]["timestamp"] == 3000
    assert json.loads(eng.get("/ts/a/earliest"))[0]["timestamp"] is None
    assert json.loads(eng.get("/ts/a/latest"))[0]["timestamp"] == 3000
    _assert_engine_parity(eng)

    # write_numeric_bulk trusts its caller: a null timestamp lands in a
    # null time_bucket leaf whose file has no timestamp min/max, so the
    # tail hint keeps every file of a read that includes the series
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in TS_NUMERIC.fields]
    )
    eng.ingest_bulk(
        spark.createDataFrame([("c", None, 9.0, None, None)], nullable),
        path="/ts/bulk/nulls",
        client="t",
    )
    hinted = eng.store.load("ts_numeric", series={"c"}, tail=("last", 1))
    assert len(hinted.inputFiles()) == len(
        eng.store.load("ts_numeric", series={"c"}).inputFiles()
    )
    _assert_engine_parity(eng)
