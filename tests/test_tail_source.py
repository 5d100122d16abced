"""zest_tail data source: per-series limit pushdown over the store
layout (SURVEY §7.3). Must return exactly the canonical last/n row set
(same total order) while planning one partition per requested series."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from zestdb_spark.api import ZestEngine
from zestdb_spark.schema import TS_NUMERIC
from zestdb_spark.sources import register
from zestdb_spark.sources.tail_source import ZestTailReader, _series_dirs
from tests.engine_reference import unhinted_get


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("tailstore"))
    eng = ZestEngine(spark, root)
    day = 86_400_000
    rows = []
    # 3 series × 5 day-buckets × 40 rows, with timestamp ties inside
    for s in ("a", "b", "c"):
        for d in range(5):
            for i in range(40):
                ts = d * day + (i // 2) * 1000  # pairs of tied timestamps
                rows.append((s, ts, float(i % 7), "k", str(i % 3)))
    eng.ingest_bulk(
        spark.createDataFrame(rows, TS_NUMERIC), path="/ts/bulk/tail", client="t"
    )
    register(spark)
    return eng


def _tail(spark, eng, series: str, n: int):
    return (
        spark.read.format("zest_tail")
        .option("root", eng.store._path("ts_numeric"))
        .option("series", series)
        .option("n", n)
        .load()
    )


def _canonical(eng, series: list[str], n: int):
    from zestdb_spark.operators import ts_read

    return ts_read.read_last(eng.store.load("ts_numeric"), series, n)


def _key_set(df):
    return {tuple(r) for r in df.collect()}


def test_tail_matches_canonical_last_n(spark, store):
    got = _tail(spark, store, "a,b", 25)
    want = _canonical(store, ["a", "b"], 25)
    assert _key_set(got) == _key_set(want)
    assert got.columns == want.columns


def test_tail_spans_bucket_boundary(spark, store):
    # n=60 crosses from the newest day-bucket (40 rows) into the next
    got = _tail(spark, store, "c", 60)
    want = _canonical(store, ["c"], 60)
    assert _key_set(got) == _key_set(want)


def test_tail_overcount_returns_all(spark, store):
    got = _tail(spark, store, "a", 10_000)
    assert got.count() == 200


def test_tail_missing_series_is_empty(spark, store):
    assert _tail(spark, store, "ghost", 5).count() == 0


def test_planning_prunes_to_requested_series(store):
    reader = ZestTailReader(
        {"root": store.store._path("ts_numeric"), "series": "a,c", "n": "5"}
    )
    parts = reader.partitions()
    assert sorted(p.series_id for p in parts) == ["a", "c"]


def test_planning_opens_only_tail_candidates(store):
    """On a manifested store each series partition plans only the files
    snapshots.tail_files keeps: n=5 of 5 day-buckets x 40 rows lives
    in the newest bucket (oldest, for first)."""
    root = store.store._path("ts_numeric")
    for mode, bucket in (("last", 4), ("first", 0)):
        reader = ZestTailReader({"root": root, "series": "a", "n": "5", "mode": mode})
        (part,) = reader.partitions()
        assert part.files
        assert all(f"/time_bucket={bucket}/" in f for f in part.files), mode
    everything = ZestTailReader({"root": root, "series": "a", "n": "1000"})
    (part,) = everything.partitions()
    assert {f.split("/time_bucket=")[1][0] for f in part.files} == set("01234")


def test_tail_first_mode_matches_canonical(spark, store):
    from zestdb_spark.operators import ts_read

    got = (
        spark.read.format("zest_tail")
        .option("root", store.store._path("ts_numeric"))
        .option("series", "a,b")
        .option("n", 30)
        .option("mode", "first")
        .load()
    )
    want = ts_read.read_first(store.store.load("ts_numeric"), ["a", "b"], 30)
    assert _key_set(got) == _key_set(want)


def test_duplicate_series_not_doubled(spark, store):
    got = _tail(spark, store, "a,a", 5)
    assert got.count() == 5


def test_engine_last_family_matches_unhinted_plan(spark, tmp_path):
    """ZestEngine serves the last/first family through the canonical
    scan with the manifest tail hint; its reference-shaped JSON must
    equal the plan over the unhinted scan, incl. composed filter/agg
    pipelines."""
    eng = ZestEngine(spark, str(tmp_path / "s"))
    day = 86_400_000
    for d in range(3):
        for i in range(5):
            eng.post(
                f"/ts/s1/at/{d * day + i * 1000}",
                {"value": float(i), "room": "a" if i % 2 else "b"},
            )
    for path in (
        "/ts/s1/latest",
        "/ts/s1/last/7",
        "/ts/s1/first/4",
        "/ts/s1/earliest",
        "/ts/s1/last/10/filter/room/equals/a/max",
        "/ts/s1/last/1000/sum",
        "/ts/ghost/last/3",
    ):
        assert eng.get(path) == unhinted_get(eng, path), path


def test_engine_blob_last_family_matches_unhinted_plan(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "s"))
    for i in range(6):
        eng.post(f"/ts/blob/bx/at/{i * 40_000_000}", {"seq": i, "tags": [i, i + 1]})
    for path in ("/ts/blob/bx/latest", "/ts/blob/bx/last/4", "/ts/blob/bx/first/2"):
        assert eng.get(path) == unhinted_get(eng, path), path


def test_statless_row_groups_always_read(spark, tmp_path):
    """A file written WITHOUT column statistics must never be skipped by
    the early-exit — even in 'last' mode where stat-bearing groups are
    read first and could establish a cutoff before it is reached."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from zestdb_spark.sources.tail_source import ZestTailReader

    leaf = tmp_path / "nostats" / "series_id=s" / "time_bucket=0"
    leaf.mkdir(parents=True)
    cols = ["timestamp", "value", "tag_name", "tag_value"]

    def tbl(ts_vals):
        return pa.table(
            {
                "timestamp": pa.array(ts_vals, pa.int64()),
                "value": pa.array([float(t) for t in ts_vals], pa.float64()),
                "tag_name": pa.array([None] * len(ts_vals), pa.string()),
                "tag_value": pa.array([None] * len(ts_vals), pa.string()),
            }
        )

    # old rows WITH stats; the NEWEST rows in a stats-less file
    pq.write_table(tbl(list(range(100))), leaf / "old.parquet")
    pq.write_table(tbl([10_000, 10_001]), leaf / "new.parquet", write_statistics=False)

    reader = ZestTailReader({"root": str(tmp_path / "nostats"), "series": "s", "n": "3"})
    (part,) = reader.partitions()
    rows = [r for b in reader.read(part) for r in b.to_pylist()]
    assert sorted(r["timestamp"] for r in rows) == [99, 10_000, 10_001]


def test_reader_skips_old_row_groups(spark, store):
    """The footer-ordered early-exit must touch only the newest groups:
    n=5 over 5 day-buckets stops after the newest bucket's row group."""
    import pyarrow.parquet as pq

    reader = ZestTailReader(
        {"root": store.store._path("ts_numeric"), "series": "a", "n": "5"}
    )
    (part,) = reader.partitions()
    read_calls = []
    orig = pq.ParquetFile.read_row_group

    def counting(self, g, **kw):
        read_calls.append(g)
        return orig(self, g, **kw)

    pq.ParquetFile.read_row_group = counting
    try:
        batches = list(reader.read(part))
    finally:
        pq.ParquetFile.read_row_group = orig
    assert sum(b.num_rows for b in batches) == 5
    # 5 buckets exist for the series; at most 2 groups may be read
    # (the newest, plus one tie-check neighbour)
    assert len(read_calls) <= 2
