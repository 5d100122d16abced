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
- pruning is conservative: files without stats (a pre-stats writer)
  are always kept.

The reference walks a per-series interval index to skip shards
(src/timeseries/timeseries.re:197-231); this is the same skip realized
through the public table-format recipe.
"""

from __future__ import annotations

import contextlib
import json
import os

import pytest
from pyspark.sql import functions as F

from zestdb_spark import snapshots
from zestdb_spark.api import ZestEngine
from zestdb_spark.errors import BadRequest
from zestdb_spark.schema import TS_NUMERIC
from zestdb_spark.storage import _DAY_MS
from tests.engine_reference import assert_engine_parity, spark_executor, unhinted_get


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
    """A manifest entry without stats (a pre-stats writer)
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
    assert_engine_parity(eng, paths)


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

    # bulk ingest rejects a null timestamp (it would land in a null
    # time_bucket leaf with no timestamp stats, turning the tail hint
    # off for the series); nothing is committed
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in TS_NUMERIC.fields]
    )
    version = eng.store._snapshot("ts_numeric").version
    with pytest.raises(BadRequest, match="timestamp non-null"):
        eng.ingest_bulk(
            spark.createDataFrame([("c", None, 9.0, None, None)], nullable),
            path="/ts/bulk/nulls",
            client="t",
        )
    assert eng.store._snapshot("ts_numeric").version == version
    _assert_engine_parity(eng)


# ---------------------------------------------------- manifest-stat fold


def test_window_files_decision():
    """snapshots.window_files, no Spark: a file is covered only when its
    series partition, row count and (for a bounded window) its timestamp
    bounds and zero null count prove every row matches; inclusive
    edges; anything else is boundary, in input order."""
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
        "series_id=a/time_bucket=0/f3.parquet": st(2, 20, 20, nulls=1),
        "series_id=b/time_bucket=0/g1.parquet": st(5, 0, 4),
        "part-0.parquet": st(1, 0, 0),
    }
    files = sorted(stats) + ["series_id=a/time_bucket=0/nostats.parquet"]
    a1, a2, a3, b1 = (
        "series_id=a/time_bucket=0/f1.parquet",
        "series_id=a/time_bucket=0/f2.parquet",
        "series_id=a/time_bucket=0/f3.parquet",
        "series_id=b/time_bucket=0/g1.parquet",
    )
    nostats = files[-1]
    # unbounded (length): every file of a requested series with a row
    # count, null timestamps included
    cov, bnd = snapshots.window_files(files, stats, {"a"})
    assert cov == [a1, a2, a3]
    assert set(bnd) == {b1, "part-0.parquet", nostats}
    # bounded: edges are inclusive, a straddling file is boundary, a
    # file with a null timestamp is boundary
    cov, bnd = snapshots.window_files([a1, a2, a3, b1], stats, {"a", "b"}, 0, 9)
    assert cov == [a1, b1] and bnd == [a2, a3]
    cov, bnd = snapshots.window_files([a1, a2, a3], stats, {"a"}, since=9)
    assert cov == [a2] and bnd == [a1, a3]
    cov, bnd = snapshots.window_files([a1, a2], stats, {"a"}, until=19)
    assert cov == [a1, a2] and bnd == []
    # no null count recorded: boundary
    del stats[a1]["nulls"]
    assert snapshots.window_files([a1], stats, {"a"}, since=0) == ([], [a1])


def _mk_stat_engine(spark, root):
    """A store whose length/count/min/max reads hit every fold edge:
    Spark-written multi-row files, one-row posts, null values, NaN from
    both writers, signed zeros, a stat-less file and a file with a null
    timestamp."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    eng = ZestEngine(spark, root)
    store = eng.store
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in TS_NUMERIC.fields]
    )
    # a: two Spark files in bucket 0 (100..1000 and 1000..1500, so 1000
    # is both a file max and a file min), one in bucket 1 with a null
    # value, and a Spark file of series n holding a NaN
    for spec in (
        [("a", t, float(t % 7)) for t in range(100, 1001, 100)],
        [("a", t, float(t % 11) - 3) for t in range(1000, 1501, 100)],
        [("a", _DAY_MS + t, None if t == 200 else float(t)) for t in range(0, 501, 100)],
        [("n", _DAY_MS + 1, 1.0), ("n", _DAY_MS + 2, float("nan"))],
    ):
        rows = [(s, t, v, None, None) for s, t, v in spec]
        eng.ingest_bulk(
            spark.createDataFrame(rows, nullable).coalesce(1),
            path="/ts/bulk/x",
            client="t",
        )
    # b: one-row posts across three day buckets
    for d in range(3):
        for i in range(3):
            eng.post(f"/ts/b/at/{d * _DAY_MS + i * 10}", {"value": float(i + d), "k": "x"})
    # n: a two-row driver-side batch holding a NaN, and a one-row post
    store._append_ts_local(
        "ts_numeric", [("n", 5, 2.0, None, None), ("n", 6, float("nan"), None, None)], 2
    )
    eng.post("/ts/n/at/7", {"value": 3.0})
    # zn: max is -0.0 (pyarrow records 0.0); zp: min is +0.0
    eng.post("/ts/zn/at/10", {"value": -0.0})
    eng.post("/ts/zn/at/20", {"value": -3.0})
    eng.post("/ts/zp/at/10", {"value": 0.0})
    eng.post("/ts/zp/at/20", {"value": 5.0})
    table_dir = store._path("ts_numeric")

    def put(rel, ts, values):
        pq.write_table(
            pa.table(
                {
                    "timestamp": pa.array(ts, pa.int64()),
                    "value": pa.array(values, pa.float64()),
                    "tag_name": pa.array([None] * len(ts), pa.string()),
                    "tag_value": pa.array([None] * len(ts), pa.string()),
                    "write_id": pa.array([None] * len(ts), pa.int64()),
                }
            ),
            os.path.join(table_dir, rel),
        )

    # a stat-less file of a (no stats offered to the commit)
    put("series_id=a/time_bucket=0/part-nostats.parquet", [300, 400], [90.0, -90.0])
    snapshots.commit(table_dir, adds=["series_id=a/time_bucket=0/part-nostats.parquet"])
    # a null timestamp and a null value (one non-null value keeps the
    # value stats, with a null count of 1), committed with footer stats
    put("series_id=b/time_bucket=0/part-nulls.parquet", [None, 15], [None, 4.5])
    store._commit(
        "ts_numeric", adds=["series_id=b/time_bucket=0/part-nulls.parquet"], op="append"
    )
    return eng


def _stat_paths(lo=0):
    out = [
        "/ts/a/length",
        "/ts/a,a/length",  # a duplicate id counts once
        "/ts/a,b,n/length",
        "/ts/ghost/length",
        "/ts/blob/a/length",  # the blob table is empty
    ]
    windows = (
        f"since/{lo}",  # everything: covered files plus a/b boundaries
        f"range/{_DAY_MS}/{2 * _DAY_MS - 1}",  # one whole bucket of a
        "range/250/650",  # inside one file of a bucket
        "since/1000",  # a bound equal to a file's min
        "range/100/1000",  # ...and to a file's max
        "range/5/6",  # n's pyarrow NaN batch
        "range/20000/30000",  # empty
    )
    for w in windows:
        for agg in ("count", "min", "max"):
            out.append(f"/ts/a/{w}/{agg}")
            out.append(f"/ts/b,n/{w}/{agg}")
    for agg in ("count", "min", "max"):
        out += [
            f"/ts/n/since/0/{agg}",
            f"/ts/zn,zp/since/0/{agg}",
            f"/ts/zn/since/0/{agg}",
            f"/ts/zp/since/0/{agg}",
            f"/ts/ghost/since/0/{agg}",
            f"/ts/a,a/since/0/{agg}",
        ]
    # the scanned reads next to them stay equal too
    out += ["/ts/a/since/0/sum", "/ts/b/since/0/filter/k/equals/x/count"]
    return out


def test_engine_stat_reads_match_unhinted_plan(spark, tmp_path):
    eng = _mk_stat_engine(spark, str(tmp_path / "s"))
    _assert_engine_parity(eng, _stat_paths())
    snap = eng.store._snapshot("ts_numeric")
    # the fold's NaN guard at the source: neither writer leaves value
    # bounds on a file holding a NaN
    for rel in snap.files:
        if rel.startswith("series_id=n/") and snap.stats[rel]["rows"] == 2:
            assert "value" not in snap.stats[rel].get("max", {}), rel
    assert eng.get("/ts/n/since/0/max") == "{}"
    assert eng.get("/ts/n/since/0/min") == '{"result": 1.0}'
    assert eng.get("/ts/n/since/0/count") == '{"result": 5.0}'
    assert eng.get("/ts/zn/since/0/max") == '{"result": -0.0}'
    assert eng.get("/ts/zp/since/0/min") == '{"result": 0.0}'
    assert eng.get("/ts/a/range/20000/30000/count") == '{"result": 0.0}'
    assert eng.get("/ts/a/range/20000/30000/max") == "{}"
    assert eng.get("/ts/ghost/since/0/count") == '{"result": 0.0}'
    assert eng.get("/ts/a,a/length") == eng.get("/ts/a/length") == '{"length": 24}'


def test_engine_stat_reads_after_delete_and_restore(spark, tmp_path):
    eng = _mk_stat_engine(spark, str(tmp_path / "s"))
    pre = eng.store.history("ts_numeric")[0].version
    eng.delete("/ts/a/range/300/1100")  # cuts into both bucket-0 files
    eng.delete(f"/ts/b/since/{_DAY_MS}")  # b's later buckets
    assert json.loads(eng.get("/ts/b/length")) == {"length": 5}
    _assert_engine_parity(eng, _stat_paths())
    eng.store.restore("ts_numeric", pre)
    assert json.loads(eng.get("/ts/b/length")) == {"length": 11}
    _assert_engine_parity(eng, _stat_paths())


def test_engine_stat_reads_blob_length(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "s"))
    for i in range(6):
        eng.post(f"/ts/blob/bx/at/{1000 + (i // 2) * 10}", {"seq": i})
    for i in range(3):
        eng.post(f"/ts/blob/by/at/{i * _DAY_MS}", [i])
    paths = ("/ts/blob/bx/length", "/ts/blob/bx,by,bx/length", "/ts/blob/bz/length")
    _assert_engine_parity(eng, paths)
    assert eng.get("/ts/blob/bx,by/length") == '{"length": 9}'


def _jobs_of(spark, fn):
    """Spark jobs ``fn`` starts on this thread, counted under a job group."""
    import uuid

    sc = spark.sparkContext
    group = f"stat-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "stat fold")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_covered_stat_reads_start_no_spark_job(spark, tmp_path):
    """A length, or a since count whose files all lie inside the window,
    is folded from manifest stats without a Spark job; a read with
    boundary files reads exactly those files, on the driver with no job
    or, over the driver budget, in one Spark scan."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    for d in range(3):
        for i in range(2):
            eng.post(f"/ts/s/at/{d * _DAY_MS + i * 10}", {"value": float(d * 2 + i + 1)})
    eng.get("/ts/s/latest")  # warm the session's first-job paths
    got, jobs = _jobs_of(spark, lambda: eng.get("/ts/s/length"))
    assert (got, jobs) == ('{"length": 6}', 0)
    got, jobs = _jobs_of(spark, lambda: eng.get(f"/ts/s/since/{_DAY_MS}/count"))
    assert (got, jobs) == ('{"result": 4.0}', 0)
    got, jobs = _jobs_of(spark, lambda: eng.get(f"/ts/s/range/0/{_DAY_MS}/max"))
    assert (got, jobs) == ('{"result": 3.0}', 0)

    # a stat-less file of s in bucket 1 is the only boundary file
    import pyarrow as pa
    import pyarrow.parquet as pq

    table_dir = eng.store._path("ts_numeric")
    rel = "series_id=s/time_bucket=1/part-nostats.parquet"
    pq.write_table(
        pa.table(
            {
                "timestamp": pa.array([_DAY_MS + 5], pa.int64()),
                "value": pa.array([9.5]),
                "tag_name": pa.array([None], pa.string()),
                "tag_value": pa.array([None], pa.string()),
                "write_id": pa.array([None], pa.int64()),
            }
        ),
        os.path.join(table_dir, rel),
    )
    snapshots.commit(table_dir, adds=[rel])
    store = eng.store
    # on the driver: only the boundary file is read, and no job runs
    asked = []
    local_files = store.local_files

    def spy_local(table, keys, rels=None, **hints):
        asked.append(rels)
        return local_files(table, keys, rels, **hints)

    store.local_files = spy_local
    got, jobs = _jobs_of(spark, lambda: eng.get(f"/ts/s/since/{_DAY_MS}/max"))
    assert (got, jobs) == ('{"result": 9.5}', 0)
    assert asked == [[rel]]
    del store.local_files
    # over the driver budget: one Spark scan of exactly that file
    frames = []
    read_files = store._read_files

    def spy(table, files):
        df = read_files(table, files)
        frames.append(df)
        return df

    store._read_files = spy
    with spark_executor():
        got, jobs = _jobs_of(spark, lambda: eng.get(f"/ts/s/since/{_DAY_MS}/max"))
    assert got == '{"result": 9.5}' and jobs >= 1
    (df,) = frames
    assert [os.path.basename(f) for f in df.inputFiles()] == ["part-nostats.parquet"]
    del store._read_files
    assert eng.get(f"/ts/s/since/{_DAY_MS}/max") == unhinted_get(eng, f"/ts/s/since/{_DAY_MS}/max")


def test_driver_batch_with_nan_keeps_no_value_bounds(spark, tmp_path):
    """A multi-row pyarrow file records finite bounds around a NaN; the
    footer rule drops them, so the fold scans the file and max renders
    ``{}`` like the scan."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    eng.store._append_ts_local(
        "ts_numeric",
        [("n", 1000, 1.0, None, None), ("n", 2000, float("nan"), None, None)],
        2,
    )
    snap = eng.store._snapshot("ts_numeric")
    (st,) = snap.stats.values()
    assert st["rows"] == 2 and "value" not in st.get("max", {})
    assert st["min"]["timestamp"] == 1000  # the int column keeps its bounds
    path = "/ts/n/since/0/max"
    assert eng.get(path) == unhinted_get(eng, path) == "{}"
    # a one-row post keeps its value bounds
    eng.post("/ts/m/at/5", {"value": 4.0})
    snap = eng.store._snapshot("ts_numeric")
    (rel,) = [r for r in snap.files if r.startswith("series_id=m/")]
    assert snap.stats[rel]["max"]["value"] == 4.0


# ------------------------------------------------ driver-side executor

_WINDOWS = (
    "latest",
    "earliest",
    "last/3",
    "first/3",
    "since/0",
    f"range/250/{_DAY_MS + 300}",
    "range/20000/30000",  # empty window
)
_FILTERS = ("", "/filter/k/equals/x", "/filter/k/contains/x")
_FNS = ("",) + tuple(f"/{a}" for a in ("sum", "count", "min", "max", "mean", "median", "sd"))


def _mk_matrix_engine(spark, root):
    """``_mk_stat_engine``'s edges (ties on file edges, null timestamps
    and values, NaN from both writers, ±0.0, a stat-less file) plus a
    NaN and a tagged value tied at one timestamp of b."""
    eng = _mk_stat_engine(spark, root)
    eng.post("/ts/b/at/15", {"value": 2.0, "k": "xy"})
    eng.post("/ts/b/at/15", {"value": float("nan"), "k": "x"})
    return eng


def _fallback_spy(monkeypatch):
    """Plans the driver read within its budget but could not answer
    identically (``Fallback``), so Spark ran them."""
    from zestdb_spark.plans import driver

    fell = []
    real = driver.answer

    def spy(plan, parts):
        try:
            return real(plan, parts)
        except driver.Fallback:
            fell.append(plan)
            raise

    monkeypatch.setattr(driver, "answer", spy)
    return fell


def test_driver_matrix_matches_unhinted_plan(spark, tmp_path, monkeypatch):
    """Every window op x {no filter, equals, contains} x every aggregate,
    over ties, null timestamps and values, NaN at a tied timestamp,
    stat-less files and a missing series: the driver's JSON equals the
    Spark plan's, byte for byte, and so does the Spark executor's.
    Only ``sd``, which always runs on Spark, falls back."""
    from zestdb_spark.plans import compile_path

    eng = _mk_matrix_engine(spark, str(tmp_path / "s"))
    fell = _fallback_spy(monkeypatch)
    paths = [f"/ts/a,b,n,ghost/{w}{f}{a}" for w in _WINDOWS for f in _FILTERS for a in _FNS]
    assert_engine_parity(eng, paths)
    fell_back = {p for p in paths if compile_path(p) in fell}
    assert fell_back == {p for p in paths if p.endswith("/sd")}, sorted(fell_back)


def test_driver_signed_zeros_duplicates_and_restore(spark, tmp_path, monkeypatch):
    """-0.0 alone is answered on the driver with its sign; a -0.0 beside
    a +0.0, whose order Spark leaves to its input, falls back. Duplicate
    ids read once. Delete then restore keeps both executors equal."""
    from zestdb_spark.plans import compile_path

    eng = _mk_matrix_engine(spark, str(tmp_path / "s"))
    fell = _fallback_spy(monkeypatch)
    zeros = [f"/ts/zn/{w}{a}" for w in _WINDOWS for a in _FNS]
    assert_engine_parity(eng, zeros)
    assert eng.get("/ts/zn/latest") == '[{"timestamp": 20, "data": {"value": -3.0}}]'
    assert eng.get("/ts/zn/since/0/median") == '{"result": -1.5}'
    assert {plan.agg for plan in fell} <= {"sd"}
    mixed = ["/ts/zn,zp/since/0", "/ts/zn,zp/since/0/median", "/ts/zn,zp/first/3"]
    assert_engine_parity(eng, mixed)
    assert {compile_path(p) for p in mixed} <= set(fell)
    dup = ["/ts/a,a/latest", "/ts/a,a/since/0/sum", "/ts/b,b,ghost/last/2", "/ts/a,a/length"]
    assert_engine_parity(eng, dup)
    assert eng.get("/ts/a,a/last/2") == eng.get("/ts/a/last/2")

    pre = eng.store.history("ts_numeric")[0].version
    eng.delete("/ts/a/range/300/1100")
    eng.delete(f"/ts/b/since/{_DAY_MS}")
    subset = [f"/ts/a,b/{w}{a}" for w in _WINDOWS for a in ("", "/sum", "/mean", "/median", "/max")]
    assert_engine_parity(eng, subset)
    eng.store.restore("ts_numeric", pre)
    assert_engine_parity(eng, subset)


def test_driver_blob_matrix_matches_unhinted_plan(spark, tmp_path, monkeypatch):
    eng = ZestEngine(spark, str(tmp_path / "s"))
    for i in range(6):
        eng.post(f"/ts/blob/bx/at/{1000 + (i // 2) * 10}", {"seq": i})
    for i in range(3):
        eng.post(f"/ts/blob/by/at/{i * _DAY_MS}", [i])
    fell = _fallback_spy(monkeypatch)
    paths = [f"/ts/blob/{ids}/{w}" for ids in ("bx", "bx,by,bx,ghost") for w in _WINDOWS]
    paths += ["/ts/blob/ghost/latest", "/ts/blob/bx/last/5000", "/ts/blob/bx,by/length"]
    assert_engine_parity(eng, paths)
    assert not fell


def test_driver_aggregates_pin_spark_semantics(spark, tmp_path):
    """The Spark semantics the driver reproduces, as Spark answers them."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    eng.post("/ts/q/at/1", {"value": 0.1234565})
    eng.post("/ts/nan/at/1", {"value": 1.0})
    eng.post("/ts/nan/at/2", {"value": float("nan")})
    for i, v in enumerate((1.0, 2.0, 4.0)):
        eng.post(f"/ts/sd/at/{i}", {"value": v})
    eng.post("/ts/one/at/1", {"value": 3.0})
    want = {
        # each double casts through its shortest repr to decimal(38,6),
        # HALF_UP: Decimal(0.1234565) would quantize to 0.123456
        "/ts/q/since/0/sum": '{"result": 0.123457}',
        "/ts/q/since/0/mean": '{"result": 0.123457}',
        # NaN drops out of sum but counts in mean's divisor
        "/ts/nan/since/0/sum": '{"result": 1.0}',
        "/ts/nan/since/0/mean": '{"result": 0.5}',
        # percentile interpolation between 1.0 and NaN
        "/ts/nan/since/0/median": "{}",
        "/ts/nan/since/0/count": '{"result": 2.0}',
        "/ts/nan/since/0/max": "{}",
        "/ts/nan/since/0/min": '{"result": 1.0}',
        # floor(stddev_samp * 1e6) / 1e6; n < 2 is empty
        "/ts/sd/since/0/sd": '{"result": 1.527525}',
        "/ts/sd/since/0/median": '{"result": 2.0}',
        "/ts/sd/range/1/2/median": '{"result": 3.0}',
        "/ts/one/since/0/sd": "{}",
        "/ts/ghost/since/0/mean": "{}",
    }
    for path, answer in want.items():
        assert unhinted_get(eng, path) == answer, path
    assert_engine_parity(eng, list(want))


@pytest.mark.parametrize(
    "values, answer",
    [
        # stddev_samp 7.07e13: a bigint floor of sd × 1e6 saturated at
        # 9223372036854.775
        ((0.0, 1e14), '{"result": 70710678118654.75}'),
        # stddev_samp overflows to NaN: a bigint floor read 0.0
        ((1e155, 1.1e155), "{}"),
        ((1.0, 2.0, 4.0), '{"result": 1.527525}'),
    ],
)
def test_sd_get_quantizes_in_the_double_domain(spark, tmp_path, values, answer):
    """``/sd`` answers floor(stddev_samp × 1e6) / 1e6 in doubles, as
    the DuckDB oracle's ``floor(stddev_samp(value) * 1000000.0) /
    1000000.0`` does."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    for i, v in enumerate(values):
        eng.post(f"/ts/x/at/{i}", {"value": v})
    assert eng.get("/ts/x/since/0/sd") == answer


def test_driver_reads_start_no_spark_job(spark, tmp_path):
    """Driver-served GETs run no Spark job: latest, last/50/filter,
    since/…/mean, range/…/median, a since max with a boundary file, and
    KV keys."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    for d in range(3):
        for i in range(3):
            eng.post(
                f"/ts/s/at/{d * _DAY_MS + i * 10}",
                {"value": float(d * 3 + i) + 0.25, "k": str(i)},
            )
    # a two-row file straddling the since bound below: a boundary file
    eng.store._append_ts_local(
        "ts_numeric", [("s", _DAY_MS + 1, 7.5, None, None), ("s", _DAY_MS + 9, 8.5, None, None)], 2
    )
    eng.post("/kv/ns/b", {"v": 2})
    eng.post("/kv/ns/a", {"v": 1})
    eng.get("/ts/s/latest")
    paths = (
        "/ts/s/latest",
        "/ts/s/last/50/filter/k/equals/1",
        f"/ts/s/since/{_DAY_MS}/mean",
        f"/ts/s/range/0/{2 * _DAY_MS}/median",
        f"/ts/s/since/{_DAY_MS + 5}/max",  # bucket 1 straddles the bound
        "/kv/ns/keys",
        "/kv/ghost/keys",
    )
    for path in paths:
        got, jobs = _jobs_of(spark, lambda: eng.get(path))
        assert jobs == 0, path
        with spark_executor():
            assert eng.get(path) == got, path
    assert eng.get("/kv/ns/keys") == '["a", "b"]'
    assert eng.get("/kv/ns/a") == '{"v": 1}'


def test_driver_fallbacks_answer_as_spark(spark, tmp_path, monkeypatch):
    """Over the budget, a file vacuumed between snapshot resolution and
    the read, KV keys over two files, a sum outside decimal(38,6), and
    an sd whose Σx² leaves the double range: each read runs its Spark
    plan and answers exactly as Spark does."""
    from pyspark.errors import ArithmeticException

    from zestdb_spark.storage import ZestStore

    eng = ZestEngine(spark, str(tmp_path / "s"))
    for i in range(4):
        eng.post(f"/ts/s/at/{1000 + i}", {"value": float(i)})
    eng.get("/ts/s/latest")
    path = "/ts/s/since/0/mean"

    monkeypatch.setattr(ZestStore, "_DRIVER_MAX_BYTES", 0)
    got, jobs = _jobs_of(spark, lambda: eng.get(path))
    assert got == unhinted_get(eng, path) == '{"result": 1.5}' and jobs >= 1
    monkeypatch.undo()

    # a racing rewrite + vacuum reclaims a file of the resolved snapshot
    store = eng.store
    local_files = store.local_files

    def racing(table, keys, rels=None, **hints):
        out = local_files(table, keys, rels, **hints)
        if table == "ts_numeric":
            eng.delete("/ts/s/range/1003/1003")
            store.vacuum("ts_numeric", retention_s=0)
        return out

    monkeypatch.setattr(store, "local_files", racing)
    got, jobs = _jobs_of(spark, lambda: eng.get(path))
    monkeypatch.undo()
    assert got == unhinted_get(eng, path) == '{"result": 1.0}' and jobs >= 1

    # KV keys keep the Spark read's order: a namespace of two files
    # stays on Spark
    import pyarrow as pa
    import pyarrow.parquet as pq

    eng.post("/kv/ns/b", {"v": 2})
    rel = "id=ns/part-extra.parquet"
    pq.write_table(
        pa.table({"key": pa.array(["a"]), "value": pa.array(['{"v": 1}'])}),
        os.path.join(store._path("kv_json"), rel),
    )
    store._commit("kv_json", adds=[rel], op="append")
    got, jobs = _jobs_of(spark, lambda: eng.get("/kv/ns/keys"))
    assert sorted(json.loads(got)) == ["a", "b"] and jobs >= 1
    assert eng.get("/kv/ns/count") == '{"count": 2}'

    eng.post("/ts/big/at/1", {"value": 1e33})
    eng.post("/ts/big/at/2", {"value": 1.0})
    for agg in ("sum", "mean"):
        errors = []
        for ctx in (contextlib.nullcontext(), spark_executor()):
            with ctx, pytest.raises(ArithmeticException) as exc:
                eng.get(f"/ts/big/since/0/{agg}")
            errors.append(exc.value.getCondition())
        assert errors[0] == errors[1]
        assert errors[0].startswith("NUMERIC_VALUE_OUT_OF_RANGE")

    # Σx² of two values near 1e155 is past the largest double: the GET
    # answers as Spark does instead of raising
    eng.post("/ts/huge/at/1", {"value": 1e155})
    eng.post("/ts/huge/at/2", {"value": 1.1e155})
    got = eng.get("/ts/huge/since/0/sd")
    assert got == unhinted_get(eng, "/ts/huge/since/0/sd")
    assert got == "{}"  # stddev_samp overflows to NaN, which reads empty
