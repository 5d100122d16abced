"""zest_tail data source: per-series limit pushdown over the store
layout (SURVEY §7.3). Must return exactly the canonical last/n row set
(same total order) while planning one partition per requested series."""

from __future__ import annotations

import contextlib

import pytest

from pyspark.sql import functions as F

from zestdb_spark.api import ZestEngine
from zestdb_spark.schema import TS_NUMERIC
from zestdb_spark.sources import register
from zestdb_spark.sources.tail_source import ZestTailReader
from tests.engine_reference import assert_engine_parity, spark_executor


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
    """ZestEngine serves the last/first family from the files the
    manifest tail hint keeps, on the driver (read_tail/top_n, the
    source's reader) or in one Spark scan; its reference-shaped JSON
    must equal the plan over the unhinted scan on both, incl. composed
    filter/agg pipelines."""
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
        assert_engine_parity(eng, [path])


def test_engine_blob_last_family_matches_unhinted_plan(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "s"))
    for i in range(6):
        eng.post(f"/ts/blob/bx/at/{i * 40_000_000}", {"seq": i, "tags": [i, i + 1]})
    assert_engine_parity(eng, ["/ts/blob/bx/latest", "/ts/blob/bx/last/4", "/ts/blob/bx/first/2"])


def test_statless_row_groups_always_read(spark, tmp_path):
    """A file written WITHOUT column statistics must never be skipped by
    the early-exit — even in 'last' mode where stat-bearing groups are
    read first and could establish a cutoff before it is reached."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from zestdb_spark import snapshots
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
    # committed without manifest stats, so the planner keeps both files
    # and only the footers decide what is read
    snapshots.commit(
        str(tmp_path / "nostats"),
        adds=[f"series_id=s/time_bucket=0/{f}" for f in ("old.parquet", "new.parquet")],
    )

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


def test_nan_at_a_tied_timestamp_orders_as_canonical(spark, tmp_path):
    """Spark orders NaN above +inf (``_order_cols``); pyarrow's sort puts
    it beside the nulls. The shared top-n (``plans.driver.top_n``) must
    order as Spark does, for the source and the engine alike."""
    import json

    eng = ZestEngine(spark, str(tmp_path / "s"))
    eng.post("/ts/s/at/1000", {"value": 1.0})
    eng.post("/ts/s/at/1000", {"value": float("nan")})
    eng.post("/ts/s/at/500", {"value": 2.0})
    register(spark)

    def values(df):
        rows = sorted(df.collect(), key=lambda r: r.timestamp)
        return [r.value for r in rows]

    def source(n, mode):
        return (
            spark.read.format("zest_tail")
            .option("root", eng.store._path("ts_numeric"))
            .option("series", "s")
            .option("n", n)
            .option("mode", mode)
            .load()
        )

    (latest,) = values(source(1, "last"))
    assert latest != latest  # NaN
    assert values(source(2, "first")) == [2.0, 1.0]
    for executor in (contextlib.nullcontext(), spark_executor()):
        with executor:
            got = json.loads(eng.get("/ts/s/latest"))
            assert len(got) == 1 and got[0]["data"]["value"] != got[0]["data"]["value"]
            got = json.loads(eng.get("/ts/s/first/2"))
            assert [r["data"]["value"] for r in got] == [2.0, 1.0]
    assert_engine_parity(eng, ["/ts/s/latest", "/ts/s/first/2", "/ts/s/last/2", "/ts/s/earliest"])


def test_first_mode_reads_null_timestamp_groups(spark, tmp_path):
    """Null timestamps sort first in "first" order: a row group holding
    one is read whatever its min-timestamp stat says, so the source
    answers first/1 with the null row, as the canonical read does."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from zestdb_spark.operators import ts_read

    eng = ZestEngine(spark, str(tmp_path / "s"))
    eng.post("/ts/s/at/100", {"value": 1.0})
    eng.post("/ts/s/at/200", {"value": 2.0})
    rel = "series_id=s/time_bucket=0/part-nulls.parquet"
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
    register(spark)
    got = (
        spark.read.format("zest_tail")
        .option("root", eng.store._path("ts_numeric"))
        .option("series", "s")
        .option("n", 1)
        .option("mode", "first")
        .load()
    )
    want = ts_read.read_first(eng.store.load("ts_numeric"), ["s"], 1)
    assert _key_set(got) == _key_set(want) == {("s", None, 7.0, None, None)}
    assert_engine_parity(eng, ["/ts/s/earliest", "/ts/s/first/2", "/ts/s/latest"])
