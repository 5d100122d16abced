"""One path per table-format operation in storage.py: the TS window
delete rewrites only hit files (``_rewrite_hits``), the generic-table
registry always matches what a fresh store discovers from
``_zest_meta.json``, and a bulk batch the store refuses is audited."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import types as T

from zestdb_spark import snapshots
from zestdb_spark.api import ZestEngine
from zestdb_spark.errors import BadRequest
from zestdb_spark.schema import TS_NUMERIC
from zestdb_spark.storage import ZestStore


def _sha(path: str) -> str:
    return hashlib.sha1(open(path, "rb").read()).hexdigest()


def test_ts_delete_rewrites_only_the_hit_file_of_a_leaf(spark, tmp_path):
    """Two one-row files in ONE (series, day) leaf: deleting one row
    removes exactly that file; the other stays live, byte-identical."""
    eng = ZestEngine(spark, str(tmp_path / "leaf"))
    eng.post("/ts/a/at/100", {"value": 1.0})
    table_dir = eng.store._path("ts_numeric")
    (keep,) = snapshots.latest(table_dir).files
    eng.post("/ts/a/at/200", {"value": 2.0})
    before = snapshots.latest(table_dir)
    (doomed,) = set(before.files) - {keep}
    assert os.path.dirname(keep) == os.path.dirname(doomed)  # one leaf
    sha = _sha(os.path.join(table_dir, keep))

    eng.delete("/ts/a/range/150/250")

    after = snapshots.latest(table_dir)
    assert after.version == before.version + 1
    assert after.files == [keep]
    assert set(before.files) - set(after.files) == {doomed}
    assert _sha(os.path.join(table_dir, keep)) == sha
    assert json.loads(eng.get("/ts/a/length")) == {"length": 1}


def test_ts_delete_that_hits_nothing_commits_nothing(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "miss"))
    eng.post("/ts/a/at/100", {"value": 1.0})
    table_dir = eng.store._path("ts_numeric")
    version = snapshots.latest(table_dir).version
    eng.delete("/ts/a/range/150/250")  # inside the leaf, no row matches
    assert snapshots.latest(table_dir).version == version
    log = eng.store.load("write_log").filter("target_table = 'ts_numeric'")
    assert log.count() == 2  # the append and the delete are both logged


@pytest.mark.parametrize("compat", [True, False])
def test_ts_delete_collateral_partner_in_another_file(spark, tmp_path, compat):
    """compat_collateral: a row sharing (series, timestamp) with a
    matched row goes too, even when it sits in a different file of the
    same leaf. Without the flag only the matched row goes, and the
    partner's file stays live and byte-identical."""
    eng = ZestEngine(
        spark, str(tmp_path / f"c{int(compat)}"), compat_collateral_delete=compat
    )
    eng.post("/ts/a/at/100", {"value": 1.0, "room": "x"})
    eng.post("/ts/a/at/100", {"value": 2.0, "room": "y"})
    eng.post("/ts/a/at/300", {"value": 3.0})
    table_dir = eng.store._path("ts_numeric")
    files = snapshots.latest(table_dir).files
    assert len(files) == 3 and len({os.path.dirname(f) for f in files}) == 1
    shas = {f: _sha(os.path.join(table_dir, f)) for f in files}

    eng.delete("/ts/a/range/50/150/filter/room/equals/x")

    rows = {
        (r.timestamp, r.value)
        for r in eng.store.load("ts_numeric").collect()
    }
    live = snapshots.latest(table_dir).files
    untouched = [f for f in live if f in shas]
    if compat:
        assert rows == {(300, 3.0)}
        assert len(untouched) == 1
    else:
        assert rows == {(100, 2.0), (300, 3.0)}
        assert len(untouched) == 2
    assert all(_sha(os.path.join(table_dir, f)) == shas[f] for f in untouched)
    # nothing was re-materialized: the hit files held no survivors
    assert set(live) == set(untouched)


def test_registry_matches_a_fresh_store_after_every_schema_op(spark, tmp_path):
    root = str(tmp_path / "meta")
    store = ZestStore(spark, root)

    def check() -> None:
        assert store._generic["t"] == ZestStore(spark, root)._generic["t"]

    store.create_table(
        "t",
        spark.createDataFrame([(1, "a", 1.0)], "k long, s string, x double"),
        stats_cols=("k",),
    )
    check()
    store.evolve_table_schema(
        "t", [T.StructField("y", T.LongType(), True)], stats_cols=("y",)
    )
    check()
    store.rename_table_column("t", "s", "label")
    check()
    store.drop_table_column("t", "x")
    check()
    entry = store._generic["t"]
    assert [f.name for f in entry["schema"].fields] == ["k", "label", "y"]
    assert entry["stats_cols"] == ("k", "y")
    assert entry["retired"] == ("x",)
    assert [r.label for r in store.load("t").collect()] == ["a"]


def test_refused_bulk_batch_is_audited(spark, tmp_path):
    """A batch the store refuses (null timestamp → BadRequest) leaves
    an audit row with its code, between the accepted batches' 65s."""
    eng = ZestEngine(spark, str(tmp_path / "bulk"))
    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in TS_NUMERIC.fields]
    )
    ok = spark.createDataFrame([("a", 1000, 1.0, None, None)], nullable)
    bad = spark.createDataFrame([("a", None, 2.0, None, None)], nullable)
    eng.ingest_bulk(ok)
    with pytest.raises(BadRequest):
        eng.ingest_bulk(bad)
    eng.ingest_bulk(ok)
    codes = [
        r.code
        for r in eng.store.load("audit").orderBy("timestamp").collect()
        if r.path == "/ts/bulk"
    ]
    assert codes == [65, 128, 65]


def test_compact_stages_leaves_through_the_partitioned_write(spark, tmp_path):
    """Compaction writes each leaf with the partition columns like
    every other TS write: the merged file lands in its own leaf, keeps
    every row (provenance stamp included) and stays timestamp-sorted."""
    import pyarrow.parquet as pq

    eng = ZestEngine(spark, str(tmp_path / "cmp"))
    for t in (500, 100, 400, 200, 300):
        eng.post(f"/ts/a=b/at/{t}", {"value": float(t)})
    eng.post("/ts/c/at/100", {"value": 1.0})
    store = eng.store
    before = sorted(store.load_with_provenance("ts_numeric").collect())
    assert store.compact("ts_numeric") == 1  # the single-file leaf is skipped
    snap = store._snapshot("ts_numeric")
    (merged,) = [f for f in snap.files if os.path.basename(f).startswith("rw-")]
    assert os.path.dirname(merged) == "series_id=a%3Db/time_bucket=0"
    ts = pq.read_table(os.path.join(store._path("ts_numeric"), merged))["timestamp"]
    assert ts.to_pylist() == [100, 200, 300, 400, 500]
    assert sorted(store.load_with_provenance("ts_numeric").collect()) == before
