"""A table is exactly its manifest: a store never written answers every
read as empty on both executors, and the files of an append whose
commit never happened are read by nothing, not even when it was the
table's first append. Also the request context's lifetime: a write_log
row carries the request that made the write, never an earlier one."""

from __future__ import annotations

import contextlib

import pytest

from zestdb_spark.api import ZestEngine
from zestdb_spark.errors import BadRequest
from zestdb_spark.sources import register
from zestdb_spark.storage import ZestStore
from tests.engine_reference import assert_engine_parity, spark_executor

#: every GET kind the iot_serve workload sends, plus length, the bare
#: since/range count/min/max the manifest fold answers, and KV reads:
#: what each answers on a table never written, on either executor
EMPTY_ANSWERS = {
    "/ts/a/latest": "[]",
    "/ts/a/last/50/filter/k/equals/3": "[]",
    "/ts/a,b/since/0/mean": "{}",
    "/ts/a,b/since/0/max": "{}",
    "/ts/a,b/since/0/sum": "{}",
    "/ts/a,b/since/0/count": '{"result": 0.0}',
    "/ts/a/range/0/259200000/median": "{}",
    "/ts/a/length": '{"length": 0}',
    "/ts/a/since/0/count": '{"result": 0.0}',
    "/ts/a/since/0/min": "{}",
    "/ts/a/range/0/1000/max": "{}",
    "/ts/blob/a/latest": "[]",
    "/ts/blob/a/length": '{"length": 0}',
    "/kv/r/keys": "[]",
    "/kv/r/count": '{"count": 0}',
    "/kv/r/k": "",
}


def _assert_reads_empty(spark, eng) -> None:
    assert_engine_parity(eng, [p for p in EMPTY_ANSWERS if p.startswith("/ts/")])
    for executor in (contextlib.nullcontext(), spark_executor()):
        with executor:
            for path, want in EMPTY_ANSWERS.items():
                assert eng.get(path) == want, path
    register(spark)
    tail = (
        spark.read.format("zest_tail")
        .option("root", eng.store._path("ts_numeric"))
        .option("series", "a")
        .option("n", 5)
        .load()
    )
    assert tail.count() == 0


def test_never_written_store_reads_empty_on_both_executors(spark, tmp_path):
    eng = ZestEngine(spark, str(tmp_path / "fresh"))
    _assert_reads_empty(spark, eng)
    stats = eng.store.table_stats("ts_numeric")
    assert (stats["version"], stats["n_files"], stats["rows"]) == (-1, 0, 0)
    # reading state commits nothing: no version appears on a table that
    # was only inspected or cloned from
    dest = ZestStore(spark, str(tmp_path / "clone"))
    eng.store.clone_table("kv_json", dest)
    assert eng.store.history("ts_numeric") == []
    assert eng.store.history("kv_json") == []


def test_failed_first_append_is_invisible_to_every_read(spark, tmp_path, monkeypatch):
    """The first append's commit fails after its file is in place: no
    read path adopts the file, and the retried append lands once."""
    eng = ZestEngine(spark, str(tmp_path / "crash"))

    def crash(self, table, adds=(), removes=(), op="", txn=None):
        raise RuntimeError("simulated crash before the first commit")

    real_commit = ZestStore._commit
    monkeypatch.setattr(ZestStore, "_commit", crash)
    with pytest.raises(RuntimeError):
        eng.store.write_numeric("a", {"value": 2.0, "k": "3"}, 1000)
    monkeypatch.setattr(ZestStore, "_commit", real_commit)

    _assert_reads_empty(spark, eng)
    eng.store.write_numeric("a", {"value": 2.0, "k": "3"}, 1000)
    assert eng.get("/ts/a/length") == '{"length": 1}'
    with spark_executor():
        assert eng.get("/ts/a/length") == '{"length": 1}'
    assert [r.value for r in eng.store.load("ts_numeric").collect()] == [2.0]


def _provenance(eng) -> "dict[str, tuple]":
    return {
        r.target_table: (r.method, r.path, r.client)
        for r in eng.store.load("write_log").collect()
    }


def test_request_context_lasts_one_request(spark, tmp_path):
    """A direct store write after an engine request is logged as
    DIRECT, not under the finished request — also after a request that
    failed."""
    eng = ZestEngine(spark, str(tmp_path / "ctx"))
    eng.post("/ts/a", {"value": 1.0}, client="alice")
    eng.store.kv_upsert("json", "ns", "k", '"v"')
    log = _provenance(eng)
    assert log["ts_numeric"] == ("POST", "/ts/a", "alice")
    assert log["kv_json"] == ("DIRECT", "/kv_json", "local")

    with pytest.raises(BadRequest):
        eng.post("/ts/b", {"value": "x"}, client="bob")
    eng.store.write_blob("b", {"x": 1})
    assert _provenance(eng)["ts_blob"] == ("DIRECT", "/ts_blob", "local")
