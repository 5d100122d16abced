"""Generic manifested tables (storage.create_table / append_table /
optimize_table): the engine's table format — atomic commits, time
travel, change feed, restore, vacuum, stats, clone — opened to
arbitrary corpus DataFrames, with Z-ORDER clustered OPTIMIZE."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from zestdb_spark.errors import BadRequest
from zestdb_spark.storage import ZestStore

#: the repo this test file lives in — child processes import it, not
#: whatever copy happens to be installed or checked out elsewhere
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def store(spark, tmp_path):
    return ZestStore(spark, str(tmp_path / "store"))


def _docs(spark, lo, hi):
    return spark.createDataFrame(
        [(i, i % 7, float(i) * 1.5) for i in range(lo, hi)],
        "doc_id long, host long, score double",
    )


def test_create_load_append_and_time_travel(spark, store):
    store.create_table("corpus_docs", _docs(spark, 0, 100))
    assert store.load("corpus_docs").count() == 100
    store.append_table("corpus_docs", _docs(spark, 100, 150))
    assert store.load("corpus_docs").count() == 150
    # version 0 (the create) still reads exactly the original rows
    v0 = store.history("corpus_docs")[-1].version
    assert store.load("corpus_docs", version=v0).count() == 100
    # change feed between create and append = the appended rows
    diff = store.changes("corpus_docs", v0)
    assert diff.filter(F.col("_change_type") == "insert").count() == 50


def test_create_rejects_duplicates_and_bad_names(spark, store):
    store.create_table("corpus_docs", _docs(spark, 0, 10))
    with pytest.raises(BadRequest, match="already exists"):
        store.create_table("corpus_docs", _docs(spark, 0, 10))
    for bad in ("ts_numeric", ".hidden", "_meta", "a/b"):
        with pytest.raises(BadRequest):
            store.create_table(bad, _docs(spark, 0, 1))


def test_append_rejects_schema_drift(spark, store):
    store.create_table("corpus_docs", _docs(spark, 0, 10))
    wrong = spark.createDataFrame([(1, 2)], "doc_id long, other long")
    with pytest.raises(BadRequest, match="columns"):
        store.append_table("corpus_docs", wrong)


def test_reopened_store_discovers_generic_tables(spark, store):
    store.create_table("corpus_docs", _docs(spark, 0, 25), stats_cols=("doc_id",))
    again = ZestStore(spark, store.root)
    assert again.load("corpus_docs").count() == 25
    assert "corpus_docs" in again._generic
    assert again._generic["corpus_docs"]["stats_cols"] == ("doc_id",)


def test_optimize_zorder_tightens_file_stats(spark, store):
    """OPTIMIZE ... ZORDER BY through the table format: after
    clustering on (host, doc_id), each file's host span must be a
    bounded sub-range — the file-skipping property — and the row
    multiset must be byte-identical."""
    df = _docs(spark, 0, 2000).repartition(8)
    store.create_table("corpus_docs", df, stats_cols=("doc_id", "host"))
    before = store.load("corpus_docs").groupBy().agg(
        F.count("*").alias("n"), F.sum("doc_id").alias("s")
    ).collect()[0]
    replaced = store.optimize_table(
        "corpus_docs", target_files=4, zorder_by=("host", "doc_id")
    )
    assert replaced >= 4
    after = store.load("corpus_docs").groupBy().agg(
        F.count("*").alias("n"), F.sum("doc_id").alias("s")
    ).collect()[0]
    assert (before["n"], before["s"]) == (after["n"], after["s"])
    # per-file host spans: clustered files cover < the full 0..6 span
    spans = []
    for f in glob.glob(os.path.join(store.root, "corpus_docs", "**", "rw-*.parquet"),
                       recursive=True):
        md = pq.ParquetFile(f).metadata
        lo, hi = None, None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                if col.path_in_schema == "host" and col.statistics:
                    st = col.statistics
                    lo = st.min if lo is None else min(lo, st.min)
                    hi = st.max if hi is None else max(hi, st.max)
        if lo is not None:
            spans.append((lo, hi))
    assert len(spans) >= 4
    assert any(hi - lo < 6 for lo, hi in spans), f"no file clustered: {spans}"
    # manifest stats carry the clustered spans (the skipping input)
    ts = store.table_stats("corpus_docs")
    assert ts["rows"] == 2000


def test_restore_and_vacuum_generic(spark, store):
    store.create_table("corpus_docs", _docs(spark, 0, 50))
    store.append_table("corpus_docs", _docs(spark, 50, 60))
    v0 = store.history("corpus_docs")[-1].version
    store.restore("corpus_docs", v0)
    assert store.load("corpus_docs").count() == 50
    store.vacuum("corpus_docs", retention_s=0.0)
    assert store.load("corpus_docs").count() == 50


def test_clone_generic_table(spark, store, tmp_path):
    store.create_table("corpus_docs", _docs(spark, 0, 30), stats_cols=("doc_id",))
    dest = ZestStore(spark, str(tmp_path / "backup"))
    store.clone_table("corpus_docs", dest)
    assert dest.load("corpus_docs").count() == 30
    # and the clone is self-describing for a FRESH process
    fresh = ZestStore(spark, dest.root)
    assert fresh.load("corpus_docs").count() == 30


def test_generic_table_streams_through_zest_changes(spark, store, tmp_path):
    """The change-feed source is self-describing over generic tables
    (_zest_meta.json schema): initial catch-up replays current
    content, appends arrive incrementally, and OPTIMIZE rewrites stay
    SILENT (rw-* staging — append purity at the offset level, the
    same contract the TS tables grade under)."""
    from zestdb_spark.sources import register

    register(spark)
    store.create_table("corpus_docs", _docs(spark, 0, 20))
    live = (
        spark.readStream.format("zest_changes")
        .option("root", os.path.join(store.root, "corpus_docs"))
        .load()
    )
    ckpt = str(tmp_path / "ckpt")
    q = (
        live.writeStream.format("memory")
        .queryName("gt_stream")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert (
            spark.sql("SELECT count(*) n FROM gt_stream").collect()[0]["n"] == 20
        )
        assert set(spark.table("gt_stream").columns) == {
            "doc_id", "host", "score",
        }
        # incremental: append 5, optimize (a full rewrite), append 3 —
        # the live stream must deliver exactly the 8 appended rows
        store.append_table("corpus_docs", _docs(spark, 20, 25))
        store.optimize_table(
            "corpus_docs", target_files=1, vacuum_retention_s=3600
        )
        store.append_table("corpus_docs", _docs(spark, 25, 28))
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) n FROM gt_stream").collect()[0]["n"]
        assert n == 28, f"optimize must not re-notify (got {n}, want 28)"
    finally:
        q.stop()


def test_merge_table_upserts_by_key_and_prunes(spark, store):
    """Generic keyed MERGE: matched keys replaced, new keys inserted,
    one commit; files whose stats exclude the update keys stay
    byte-identical (candidate pruning on stats-covered keys)."""
    store.create_table(
        "corpus_docs", _docs(spark, 0, 100), stats_cols=("doc_id",)
    )
    # well-separated second file so pruning has something to skip
    store.append_table("corpus_docs", _docs(spark, 10_000, 10_100))
    files_before = set(store._live_files("corpus_docs"))
    updates = spark.createDataFrame(
        [(5, 99, 555.0), (10_500, 1, 111.0)],
        "doc_id long, host long, score double",
    )
    touched = store.merge_table("corpus_docs", updates, key_cols=("doc_id",))
    assert touched >= 1
    got = {
        r["doc_id"]: (r["host"], r["score"])
        for r in store.load("corpus_docs")
        .filter(F.col("doc_id").isin(5, 10_500))
        .collect()
    }
    assert got[5] == (99, 555.0)       # replaced
    assert got[10_500] == (1, 111.0)   # inserted
    assert store.load("corpus_docs").count() == 201  # 200 + 1 new key
    # the 10k-block file was never touched: its relpaths survive intact
    survivors = set(store._live_files("corpus_docs")) & files_before
    assert survivors, "pruning should keep unhit files live and identical"
    # merge is one commit: history gained exactly one version
    assert store.history("corpus_docs")[0].op == "merge"


def test_merge_table_rejects_bad_keys_and_schema(spark, store):
    store.create_table("corpus_docs", _docs(spark, 0, 10))
    ok = _docs(spark, 0, 1)
    with pytest.raises(BadRequest, match="key_cols"):
        store.merge_table("corpus_docs", ok, key_cols=("nope",))
    wrong = spark.createDataFrame([(1,)], "doc_id long")
    with pytest.raises(BadRequest, match="columns"):
        store.merge_table("corpus_docs", wrong, key_cols=("doc_id",))


def test_delete_table_rows_predicate_and_null_semantics(spark, store):
    """Predicate DELETE: hit files rewritten without matching rows,
    unhit files byte-identical, NULL-predicate rows KEPT (Delta's
    DELETE-where-TRUE contract), all one commit."""
    store.create_table("corpus_docs", _docs(spark, 0, 100))
    store.append_table("corpus_docs", _docs(spark, 10_000, 10_050))
    # a NULL-scoring row: the predicate (score < 15) is NULL for it
    store.append_table(
        "corpus_docs",
        spark.createDataFrame(
            [(77_777, 0, None)], "doc_id long, host long, score double"
        ),
    )
    files_before = set(store._live_files("corpus_docs"))
    touched = store.delete_table_rows("corpus_docs", "score < 15.0")
    assert touched >= 1
    left = store.load("corpus_docs")
    assert left.filter(F.col("score") < 15.0).count() == 0
    assert left.filter(F.col("doc_id") == 77_777).count() == 1  # NULL kept
    assert left.count() == 100 + 50 + 1 - 10  # scores 0..13.5 = ids 0..9
    # the far block (scores >= 15000) was never touched
    assert set(store._live_files("corpus_docs")) & files_before
    assert store.history("corpus_docs")[0].op == "delete"
    # no-match predicate is a no-op commit-wise
    v = store.history("corpus_docs")[0].version
    assert store.delete_table_rows("corpus_docs", "score < -1.0") == 0
    assert store.history("corpus_docs")[0].version == v


def test_create_guards_reserved_and_stats_typos(spark, store):
    bad = spark.createDataFrame([(1, 2)], "doc_id long, zkey long")
    with pytest.raises(BadRequest, match="reserved"):
        store.create_table("t1", bad)
    ok = _docs(spark, 0, 3)
    with pytest.raises(BadRequest, match="stats_cols"):
        store.create_table("t2", ok, stats_cols=("doc_Id",))


def test_append_casts_to_persisted_types(spark, store):
    """Matching names with drifted physical types must be cast to the
    table's persisted schema, never written as-is (a float file in a
    double table poisons every later schema-pinned read)."""
    store.create_table("corpus_docs", _docs(spark, 0, 5))
    drifted = spark.createDataFrame(
        [(100, 1, 2.5)], "doc_id int, host int, score float"
    )
    store.append_table("corpus_docs", drifted)
    rows = store.load("corpus_docs").filter(F.col("doc_id") == 100).collect()
    assert rows and rows[0]["score"] == 2.5  # readable, right value


def test_timestamp_column_streams_through_changes(spark, store):
    """A generic table with a TIMESTAMP column (outside the TS tables'
    hand-kept arrow map) must stream — the Spark↔Arrow mapping falls
    back to Spark's canonical converter."""
    from zestdb_spark.sources import register

    register(spark)
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")], "doc_id long, at string"
    ).select("doc_id", F.col("at").cast("timestamp").alias("at"))
    store.create_table("evented", df)
    live = (
        spark.readStream.format("zest_changes")
        .option("root", os.path.join(store.root, "evented"))
        .load()
    )
    q = (
        live.writeStream.format("memory")
        .queryName("ts_generic")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert (
            spark.sql("SELECT count(*) n FROM ts_generic").collect()[0]["n"] == 1
        )
    finally:
        q.stop()


def test_concurrent_create_has_one_winner(spark, store):
    """TWO PROCESSES racing the same create: exactly one wins, the
    other gets a loud BadRequest — never a silent union (the
    existence check + meta write + commit run under the table's
    rewrite lock)."""
    import subprocess
    import sys
    import textwrap

    child_src = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from zestdb_spark.errors import BadRequest
        from zestdb_spark.session import get_spark
        from zestdb_spark.storage import ZestStore
        spark = get_spark("create_race_child")
        store = ZestStore(spark, {store.root!r})
        df = spark.createDataFrame([(1, 1, 1.0)],
                                   "doc_id long, host long, score double")
        try:
            store.create_table("raced", df)
            print("WON")
        except BadRequest:
            print("LOST")
    """)
    child = subprocess.Popen(
        [sys.executable, "-c", child_src], stdout=subprocess.PIPE
    )
    try:
        store.create_table("raced", _docs(spark, 0, 2))
        mine = "WON"
    except BadRequest:
        mine = "LOST"
    out, _ = child.communicate(timeout=300)
    theirs = out.decode().strip().splitlines()[-1]
    assert sorted([mine, theirs]) == ["LOST", "WON"]
    # and the table is exactly one creator's content, not a union
    n = ZestStore(spark, store.root).load("raced").count()
    assert n in (1, 2)


def test_long_lived_store_sees_tables_created_after_open(spark, store, tmp_path):
    """ADVICE r9: discovery ran only at __init__, so a long-lived
    process (the server) never saw a generic table another process
    created after the store was opened — append/merge/load raised
    KeyError with the table sitting on disk. Lookup misses now
    re-probe the table dir lazily."""
    early = ZestStore(spark, store.root)  # opened BEFORE the create
    store.create_table("latecomer", _docs(spark, 0, 50), stats_cols=("doc_id",))
    # the pre-open store must see it on every surface, not just load
    assert early.load("latecomer").count() == 50
    early.append_table("latecomer", _docs(spark, 50, 60))
    assert store.load("latecomer").count() == 60
    n = early.merge_table(
        "latecomer",
        _docs(spark, 0, 5).withColumn("score", F.lit(0.0)),
        key_cols=("doc_id",),
    )
    assert early.load("latecomer").filter("score = 0.0").count() == 5
    # a genuinely absent table still raises
    with pytest.raises(KeyError):
        early.append_table("never_created", _docs(spark, 0, 1))


def test_predicate_term_analysis():
    """The conservative DELETE-predicate analyzer: recognizes AND-ed
    simple comparisons, bails (None) on anything else — a bail can
    only cost reads, never correctness."""
    t = ZestStore._predicate_terms
    assert t("doc_id < 100") == [("doc_id", "<", 100)]
    assert t("100 >= doc_id") == [("doc_id", "<=", 100)]
    assert t("`host` = 3 AND score <= 1.5") == [
        ("host", "=", 3), ("score", "<=", 1.5)
    ]
    assert t("doc_id BETWEEN 10 AND 20") == [
        ("doc_id", ">=", 10), ("doc_id", "<=", 20)
    ]
    assert t("lang = 'en'") == [("lang", "=", "en")]
    # conservative bails
    assert t("doc_id < 100 OR host = 1") is None
    assert t("doc_id % 2 = 0") is None
    assert t("(doc_id < 100)") is None
    assert t("f(doc_id) = 3") is None
    assert t("title = 'war AND peace'") is None  # split breaks literal → bail


def test_stats_may_match_proof_only():
    m = ZestStore._stats_may_match
    st = {"min": {"doc_id": 100}, "max": {"doc_id": 199}}
    assert not m(st, [("doc_id", "<", 100)])
    assert m(st, [("doc_id", "<=", 100)])
    assert not m(st, [("doc_id", ">", 199)])
    assert m(st, [("doc_id", ">=", 150)])
    assert not m(st, [("doc_id", "=", 50)])
    assert m(st, [("doc_id", "=", 150)])
    # missing / None / incomparable stats never prune
    assert m(None, [("doc_id", "<", 0)])
    assert m({"min": {}, "max": {}}, [("doc_id", "<", 0)])
    assert m({"min": {"doc_id": None}, "max": {"doc_id": None}}, [("doc_id", "<", 0)])
    assert m({"min": {"doc_id": "a"}, "max": {"doc_id": "b"}}, [("doc_id", "<", 0)])


def test_delete_prunes_files_by_manifest_stats(spark, store):
    """Self-enforcing pruning pin: commit extra manifest entries whose
    files DO NOT EXIST but whose stats prove they cannot match the
    predicate — if delete's hit scan ever reads past the stats prune,
    Spark fails loudly on the missing files."""
    from zestdb_spark import snapshots

    store.create_table("pruned_del", _docs(spark, 0, 100), stats_cols=("doc_id",))
    ghost_stats = {
        f"ghost-{i}.parquet": {
            "min": {"doc_id": 10_000 + i * 100},
            "max": {"doc_id": 10_099 + i * 100},
        }
        for i in range(50)
    }
    snapshots.commit(
        store._path("pruned_del"),
        adds=list(ghost_stats),
        op="append",
        stats=ghost_stats,
    )
    n = store.delete_table_rows("pruned_del", "doc_id < 10")
    assert n >= 1
    # an unanalyzable predicate must fall back to the full scan and
    # blow up on the ghosts — proving the fallback really reads all
    with pytest.raises(Exception):
        store.delete_table_rows("pruned_del", "doc_id % 97 = 1")
    # drop the ghosts (manifest-only) and check row-level correctness
    snapshots.commit(
        store._path("pruned_del"), removes=list(ghost_stats), op="delete"
    )
    remaining = store.load("pruned_del")
    assert remaining.filter("doc_id < 10").count() == 0
    assert remaining.filter("doc_id >= 10 AND doc_id < 100").count() == 90


def test_merge_update_batch_self_duplicates(spark, store):
    """Exact duplicate update rows collapse (idempotent resend); two
    DIFFERENT payloads for one key raise — Delta's 'multiple source
    rows matched' contract, instead of a partition-order-dependent
    winner."""
    store.create_table("m_dups", _docs(spark, 0, 20), stats_cols=("doc_id",))
    dup_rows = spark.createDataFrame(
        [(5, 0, 9.0), (5, 0, 9.0), (21, 1, 2.0)],
        "doc_id long, host long, score double",
    )
    store.merge_table("m_dups", dup_rows, key_cols=("doc_id",))
    out = store.load("m_dups")
    assert out.filter("doc_id = 5").count() == 1
    assert out.filter("doc_id = 5").first()["score"] == 9.0
    assert out.filter("doc_id = 21").count() == 1
    ambiguous = spark.createDataFrame(
        [(7, 0, 1.0), (7, 0, 2.0)], "doc_id long, host long, score double"
    )
    with pytest.raises(BadRequest, match="multiple DIFFERENT rows"):
        store.merge_table("m_dups", ambiguous, key_cols=("doc_id",))
    # the failed merge changed nothing
    assert store.load("m_dups").filter("doc_id = 7").first()["score"] == 7 * 1.5


def test_schema_evolution_additive(spark, store):
    """Delta-style mergeSchema: new nullable columns join the table
    without rewriting a byte — old files read NULL for them, new
    appends carry them, a fresh process sees the evolved schema, and
    non-additive changes are refused."""
    from pyspark.sql import types as T

    store.create_table("evolving", _docs(spark, 0, 30), stats_cols=("doc_id",))
    wider = spark.createDataFrame(
        [(100 + i, i % 3, 1.0, f"en{i%2}") for i in range(10)],
        "doc_id long, host long, score double, lang string",
    )
    # without merge_schema the drift is still refused
    with pytest.raises(BadRequest, match="columns"):
        store.append_table("evolving", wider)
    store.append_table("evolving", wider, merge_schema=True)
    out = store.load("evolving")
    assert set(out.columns) == {"doc_id", "host", "score", "lang"}
    assert out.count() == 40
    assert out.filter("lang IS NULL").count() == 30  # old files: NULL
    assert out.filter("lang IS NOT NULL").count() == 10
    # narrower frames fill the missing column with NULL under the flag
    store.append_table("evolving", _docs(spark, 200, 205), merge_schema=True)
    assert store.load("evolving").filter("doc_id >= 200").count() == 5
    # a fresh process discovers the evolved schema from the meta file
    fresh = ZestStore(spark, store.root)
    assert set(fresh.load("evolving").columns) == {"doc_id", "host", "score", "lang"}
    # time travel reads v0 rows through the CURRENT schema (Delta's
    # posture): old snapshot, NULL new columns
    v0 = store.history("evolving")[-1].version
    t0 = store.load("evolving", version=v0)
    assert t0.count() == 30 and t0.filter("lang IS NULL").count() == 30
    # non-additive evolution is refused loudly
    with pytest.raises(BadRequest, match="already exists"):
        store.evolve_table_schema(
            "evolving", [T.StructField("score", T.StringType())]
        )
    with pytest.raises(BadRequest, match="reserved"):
        store.evolve_table_schema(
            "evolving", [T.StructField("zkey", T.LongType())]
        )


def test_dml_after_schema_evolution(spark, store):
    """MERGE and DELETE keep working on an evolved table: updates
    carry the full current schema, hit detection and pruning operate
    over the mixed old/new files."""
    store.create_table("evolved_dml", _docs(spark, 0, 50), stats_cols=("doc_id",))
    store.append_table(
        "evolved_dml",
        spark.createDataFrame(
            [(100, 1, 5.0, "en")],
            "doc_id long, host long, score double, lang string",
        ),
        merge_schema=True,
    )
    n = store.merge_table(
        "evolved_dml",
        spark.createDataFrame(
            [(5, 9, -1.0, "de"), (100, 9, -2.0, "de")],
            "doc_id long, host long, score double, lang string",
        ),
        key_cols=("doc_id",),
    )
    assert n >= 1
    out = store.load("evolved_dml")
    assert out.filter("doc_id = 5").first()["lang"] == "de"
    assert out.filter("doc_id = 100").first()["score"] == -2.0
    assert store.delete_table_rows("evolved_dml", "doc_id < 3") >= 1
    assert store.load("evolved_dml").filter("doc_id < 3").count() == 0


def test_predicate_pruner_soundness_properties():
    """Property pins for the DELETE pruner:
    (1) parser fidelity — for every parsed predicate, the term
        conjunction evaluates identically to DuckDB evaluating the
        predicate itself on random rows (catches flipped operands /
        wrong op mapping);
    (2) prune soundness — if _stats_may_match says False for a file,
        NO value within [min, max] satisfies the terms."""
    import duckdb
    import random

    rnd = random.Random(42)
    con = duckdb.connect()
    ops = ["<", "<=", ">", ">=", "="]

    def apply_terms(terms, val):
        for _, op, v in terms:
            if op == "<" and not val < v:
                return False
            if op == "<=" and not val <= v:
                return False
            if op == ">" and not val > v:
                return False
            if op == ">=" and not val >= v:
                return False
            if op == "=" and not val == v:
                return False
        return True

    for _ in range(200):
        lit = rnd.randint(-50, 50)
        op = rnd.choice(ops)
        flipped = rnd.random() < 0.5
        pred = f"{lit} {op} x" if flipped else f"x {op} {lit}"
        if rnd.random() < 0.3:
            lo, hi = sorted((rnd.randint(-50, 50), rnd.randint(-50, 50)))
            pred = f"x BETWEEN {lo} AND {hi}"
        terms = ZestStore._predicate_terms(pred)
        assert terms is not None, pred
        for _ in range(10):
            val = rnd.randint(-60, 60)
            duck = con.execute(
                f"SELECT {pred} FROM (SELECT {val} AS x)"
            ).fetchone()[0]
            assert bool(duck) == apply_terms(terms, val), (pred, val)
        # prune soundness on a random stats window
        lo, hi = sorted((rnd.randint(-60, 60), rnd.randint(-60, 60)))
        st = {"min": {"x": lo}, "max": {"x": hi}}
        if not ZestStore._stats_may_match(st, terms):
            for val in range(lo, hi + 1):
                assert not apply_terms(terms, val), (pred, lo, hi, val)
    con.close()


def test_evolution_can_extend_stats_cols(spark, store):
    """New columns can opt into manifest stats at evolution time: files
    written AFTER carry min/max for them (pruning input), files from
    before simply have no entry — conservative by the existing
    missing-stats contract."""
    from pyspark.sql import types as T

    store.create_table("ev_stats", _docs(spark, 0, 20), stats_cols=("doc_id",))
    store.evolve_table_schema(
        "ev_stats", [T.StructField("ts", T.LongType())], stats_cols=("ts",)
    )
    assert store._generic["ev_stats"]["stats_cols"] == ("doc_id", "ts")
    store.append_table(
        "ev_stats",
        spark.createDataFrame(
            [(100 + i, 0, 1.0, 5000 + i) for i in range(5)],
            "doc_id long, host long, score double, ts long",
        ),
    )
    snap = store._snapshot("ev_stats")
    with_ts = [
        s for s in snap.stats.values() if (s.get("min") or {}).get("ts") is not None
    ]
    assert with_ts and with_ts[0]["min"]["ts"] == 5000
    # stats on a non-new column is a loud error
    with pytest.raises(BadRequest, match="NEW columns"):
        store.evolve_table_schema(
            "ev_stats", [T.StructField("x", T.LongType())], stats_cols=("score",)
        )
    # fresh process sees the merged stats choice
    fresh = ZestStore(spark, store.root)
    assert fresh._generic_entry("ev_stats")["stats_cols"] == ("doc_id", "ts")


def test_streaming_changes_across_schema_evolution(spark, store, tmp_path):
    """The change-feed contract under evolution: a stream started
    BEFORE the evolution keeps its original schema (Spark pins stream
    schemas at start — the standard restart-to-pick-up-columns
    posture) and keeps receiving post-evolution appends projected onto
    it; a stream started AFTER sees the evolved schema."""
    from zestdb_spark.sources import register

    register(spark)
    store.create_table("ev_stream", _docs(spark, 0, 10))
    live = (
        spark.readStream.format("zest_changes")
        .option("root", os.path.join(store.root, "ev_stream"))
        .load()
    )
    q = (
        live.writeStream.format("memory")
        .queryName("ev_old")
        .option("checkpointLocation", str(tmp_path / "c1"))
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT count(*) n FROM ev_old").first()["n"] == 10
        wider = spark.createDataFrame(
            [(100, 0, 1.0, "en")],
            "doc_id long, host long, score double, lang string",
        )
        store.append_table("ev_stream", wider, merge_schema=True)
        q.processAllAvailable()
        # pre-evolution stream: original columns, new rows still arrive
        assert set(spark.table("ev_old").columns) == {"doc_id", "host", "score"}
        assert spark.sql("SELECT count(*) n FROM ev_old").first()["n"] == 11
    finally:
        q.stop()
    # a FRESH stream sees the evolved schema and full catch-up
    live2 = (
        spark.readStream.format("zest_changes")
        .option("root", os.path.join(store.root, "ev_stream"))
        .load()
    )
    q2 = (
        live2.writeStream.format("memory")
        .queryName("ev_new")
        .option("checkpointLocation", str(tmp_path / "c2"))
        .outputMode("append")
        .start()
    )
    try:
        q2.processAllAvailable()
        assert set(spark.table("ev_new").columns) == {
            "doc_id", "host", "score", "lang",
        }
        assert spark.sql(
            "SELECT count(*) n FROM ev_new WHERE lang IS NOT NULL"
        ).first()["n"] == 1
    finally:
        q2.stop()


def test_merge_table_with_map_columns(spark, store):
    """ADVICE r10: Spark forbids set operations on MapType columns, so
    merge_table's batch dedup/ambiguity checks fall back to a
    serialized-row image when the schema contains maps — identical
    resent rows still collapse, two DIFFERENT payloads for one key
    still raise, and map-typed KEY columns are refused up front (maps
    have no equality)."""
    base = spark.createDataFrame(
        [(i, {"k": str(i)}, float(i)) for i in range(10)],
        "doc_id long, props map<string,string>, score double",
    )
    store.create_table("mapped", base, stats_cols=("doc_id",))
    dup_rows = spark.createDataFrame(
        [(5, {"k": "new"}, 9.0), (5, {"k": "new"}, 9.0), (20, {"k": "x"}, 1.0)],
        "doc_id long, props map<string,string>, score double",
    )
    n = store.merge_table("mapped", dup_rows, key_cols=("doc_id",))
    assert n >= 1
    out = store.load("mapped")
    assert out.filter("doc_id = 5").count() == 1
    row5 = out.filter("doc_id = 5").first()
    assert row5["score"] == 9.0 and row5["props"]["k"] == "new"
    assert out.filter("doc_id = 20").count() == 1
    ambiguous = spark.createDataFrame(
        [(7, {"k": "a"}, 1.0), (7, {"k": "b"}, 1.0)],
        "doc_id long, props map<string,string>, score double",
    )
    with pytest.raises(BadRequest, match="multiple DIFFERENT rows"):
        store.merge_table("mapped", ambiguous, key_cols=("doc_id",))
    with pytest.raises(BadRequest, match="map-typed"):
        store.merge_table("mapped", dup_rows, key_cols=("props",))
    # ADVICE r11: non-map columns keep NATIVE distinct semantics (only
    # the map columns go through the lossy JSON image) — 0.0 and -0.0
    # are one resent row exactly as in the map-free branch, not an
    # ambiguous pair the JSON print happened to keep apart...
    signed_zero = spark.createDataFrame(
        [(8, {"k": "z"}, 0.0), (8, {"k": "z"}, -0.0)],
        "doc_id long, props map<string,string>, score double",
    )
    assert store.merge_table("mapped", signed_zero, key_cols=("doc_id",)) == 1
    # ...while NaN vs NULL stay genuinely distinct and trip ambiguity
    nan_null = spark.createDataFrame(
        [(9, {"k": "n"}, float("nan")), (9, {"k": "n"}, None)],
        "doc_id long, props map<string,string>, score double",
    )
    with pytest.raises(BadRequest, match="multiple DIFFERENT rows"):
        store.merge_table("mapped", nan_null, key_cols=("doc_id",))


def test_schema_evolution_idempotent_readd(spark, store):
    """ADVICE r10: re-adding a column that already exists with the
    IDENTICAL type is a no-op (a long-lived writer with a stale cached
    schema racing another writer's evolution must not error), while a
    type conflict still raises; repeated stats opt-ins dedupe."""
    from pyspark.sql import types as T

    store.create_table("readd", _docs(spark, 0, 10), stats_cols=("doc_id",))
    lang = T.StructField("lang", T.StringType())
    store.evolve_table_schema("readd", [lang], stats_cols=("lang",))
    # the racing writer's retry: same field, same type — no-op
    store.evolve_table_schema("readd", [lang], stats_cols=("lang",))
    assert store._generic["readd"]["stats_cols"] == ("doc_id", "lang")
    fresh = ZestStore(spark, store.root)
    assert fresh._generic["readd"]["stats_cols"] == ("doc_id", "lang")
    assert set(f.name for f in fresh._generic["readd"]["schema"].fields) == {
        "doc_id", "host", "score", "lang",
    }
    # a TYPE conflict on the same name is still refused loudly
    with pytest.raises(BadRequest, match="already exists with type"):
        store.evolve_table_schema(
            "readd", [T.StructField("lang", T.LongType())]
        )
    # mixed batch: one no-op re-add + one genuinely new column
    store.evolve_table_schema(
        "readd", [lang, T.StructField("tok", T.LongType())]
    )
    assert "tok" in [f.name for f in store._generic["readd"]["schema"].fields]


def test_type_widening_evolution(spark, store):
    """VERDICT r10 #6 — lossless numeric type widening as a pure
    metadata evolution: int->long / float->double widen the persisted
    schema without rewriting a byte (Spark 4.1's parquet reader
    up-casts old files at scan time), DML and the change feed keep
    working over mixed-width files, pre-widen versions time-travel
    through the CURRENT schema, and everything lossy is refused."""
    from pyspark.sql import types as T

    narrow = spark.createDataFrame(
        [(i, i % 7, float(i) / 4) for i in range(50)],
        "doc_id int, host int, score float",
    )
    store.create_table("widening", narrow, stats_cols=("doc_id",))
    v0 = store.history("widening")[-1].version
    store.evolve_table_schema(
        "widening",
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("score", T.DoubleType()),
        ],
    )
    out = store.load("widening")
    assert dict(out.dtypes) == {"doc_id": "bigint", "host": "int", "score": "double"}
    assert out.count() == 50  # old int32/float files read through
    assert out.filter("doc_id = 7").first()["score"] == 1.75
    # appends now carry values only the wide type can hold
    store.append_table(
        "widening",
        spark.createDataFrame(
            [(2**40, 1, 0.1)], "doc_id long, host int, score double"
        ),
    )
    assert store.load("widening").filter("doc_id > 2147483647").count() == 1
    # DML over the mixed-width file set
    n = store.merge_table(
        "widening",
        spark.createDataFrame(
            [(7, 9, -1.0)], "doc_id long, host int, score double"
        ),
        key_cols=("doc_id",),
    )
    assert n >= 1
    assert store.load("widening").filter("doc_id = 7").first()["score"] == -1.0
    assert store.delete_table_rows("widening", "doc_id < 3") >= 1
    assert store.load("widening").filter("doc_id < 3").count() == 0
    # change feed across the widen boundary reads one coherent type
    diff = store.changes("widening", v0)
    assert dict(diff.dtypes)["doc_id"] == "bigint"
    assert diff.filter("_change_type = 'insert' AND doc_id > 2147483647").count() == 1
    # pre-widen version time-travels through the CURRENT schema
    t0 = store.load("widening", version=v0)
    assert dict(t0.dtypes)["doc_id"] == "bigint" and t0.count() == 50
    # a fresh process discovers the widened schema from the meta file
    fresh = ZestStore(spark, store.root)
    assert dict(fresh.load("widening").dtypes)["doc_id"] == "bigint"
    # idempotent re-widen is a no-op; lossy changes are refused
    store.evolve_table_schema("widening", [T.StructField("doc_id", T.LongType())])
    for bad in (
        T.StructField("doc_id", T.IntegerType()),   # narrowing
        T.StructField("doc_id", T.DoubleType()),    # long->double is lossy
        T.StructField("score", T.StringType()),     # non-numeric
        T.StructField("host", T.FloatType()),       # int->float is lossy
    ):
        with pytest.raises(BadRequest, match="not a lossless widening"):
            store.evolve_table_schema("widening", [bad])


def test_rename_column_via_mapping(spark, store):
    """Round 11 — Delta-style column mapping: RENAME changes only the
    LOGICAL name (physical names in files are immutable), so nothing
    is rewritten; reads alias physical->logical, writes rename on the
    way in, stats stay keyed physical with pruning translated, and a
    re-added column with the old logical name gets a FRESH physical
    (never the renamed column's file data)."""
    from pyspark.sql import types as T

    store.create_table("renamed", _docs(spark, 0, 40), stats_cols=("doc_id",))
    v0 = store.history("renamed")[-1].version
    store.rename_table_column("renamed", "score", "quality")
    out = store.load("renamed")
    assert set(out.columns) == {"doc_id", "host", "quality"}
    assert out.filter("doc_id = 8").first()["quality"] == 12.0  # old files
    # appends speak the NEW name
    store.append_table(
        "renamed",
        spark.createDataFrame([(100, 1, 5.5)], "doc_id long, host long, quality double"),
    )
    assert store.load("renamed").filter("doc_id = 100").first()["quality"] == 5.5
    # DML on the renamed schema over mixed files
    n = store.merge_table(
        "renamed",
        spark.createDataFrame([(8, 9, -2.0)], "doc_id long, host long, quality double"),
        key_cols=("doc_id",),
    )
    assert n >= 1
    assert store.load("renamed").filter("doc_id = 8").first()["quality"] == -2.0
    assert store.delete_table_rows("renamed", "doc_id < 3") >= 1
    assert store.load("renamed").filter("doc_id < 3").count() == 0
    # stats pruning still keys by the STABLE physical name: a second
    # rename of the stats column itself, then a pruned delete
    store.rename_table_column("renamed", "doc_id", "document_id")
    assert store.delete_table_rows("renamed", "document_id = 100") == 1
    assert store.load("renamed").filter("document_id = 100").count() == 0
    # table_stats reports LOGICAL names
    ts = store.table_stats("renamed")
    assert "document_id" in ts["min"] and "doc_id" not in ts["min"]
    # change feed + time travel read through the CURRENT logical schema
    assert "document_id" in store.changes("renamed", v0).columns
    t0 = store.load("renamed", version=v0)
    assert set(t0.columns) == {"document_id", "host", "quality"}
    assert t0.count() == 40
    # a fresh process discovers the mapping from the meta file
    fresh = ZestStore(spark, store.root)
    assert fresh.load("renamed").filter("document_id = 8").first()["quality"] == -2.0
    # re-adding the OLD logical name must NOT resurrect old file data:
    # 'score' gets a fresh physical, so every pre-existing row reads NULL
    store.evolve_table_schema("renamed", [T.StructField("score", T.StringType())])
    again = store.load("renamed")
    assert again.filter("score IS NOT NULL").count() == 0
    store.append_table(
        "renamed",
        spark.createDataFrame(
            [(200, 1, 1.0, "fresh")],
            "document_id long, host long, quality double, score string",
        ),
    )
    assert store.load("renamed").filter("score = 'fresh'").count() == 1
    # clone carries the mapping
    clone_root = store.root + "_rn_clone"
    dest = ZestStore(spark, clone_root)
    store.clone_table("renamed", dest)
    assert dest.load("renamed").filter("document_id = 8").count() == 1
    # refusals
    with pytest.raises(BadRequest, match="already exists"):
        store.rename_table_column("renamed", "host", "quality")
    with pytest.raises(BadRequest, match="no column"):
        store.rename_table_column("renamed", "nope", "x")
    with pytest.raises(BadRequest, match="reserved"):
        store.rename_table_column("renamed", "host", "zkey")


def test_streaming_changes_across_column_rename(spark, store, tmp_path):
    """The change feed under COLUMN MAPPING (round 11): a stream
    started AFTER a rename must read real data under the new logical
    name (files carry the immutable PHYSICAL name — a naive
    logical-name read would silently null-fill the renamed column); a
    stream started BEFORE keeps its pinned names and keeps receiving
    post-rename appends; and a column re-added under the retired name
    reads NULL from history, never the renamed column's file data."""
    import os as _os

    from zestdb_spark.sources import register

    register(spark)
    store.create_table("rn_stream", _docs(spark, 0, 8))
    root = _os.path.join(store.root, "rn_stream")
    # pre-rename stream: pinned to the original logical names
    q_old = (
        spark.readStream.format("zest_changes")
        .option("root", root)
        .load()
        .writeStream.format("memory")
        .queryName("rn_old")
        .option("checkpointLocation", str(tmp_path / "c1"))
        .outputMode("append")
        .start()
    )
    try:
        q_old.processAllAvailable()
        assert spark.sql("SELECT count(*) n FROM rn_old").first()["n"] == 8
        store.rename_table_column("rn_stream", "score", "quality")
        store.append_table(
            "rn_stream",
            spark.createDataFrame(
                [(100, 1, 42.0)], "doc_id long, host long, quality double"
            ),
        )
        q_old.processAllAvailable()
        # pinned names, and the post-rename append's VALUE arrives
        # under the old name (same physical column)
        assert set(spark.table("rn_old").columns) == {"doc_id", "host", "score"}
        row = spark.sql("SELECT score FROM rn_old WHERE doc_id = 100").first()
        assert row["score"] == 42.0
    finally:
        q_old.stop()
    # post-rename stream: new logical name, REAL values (not nulls)
    # from files written before AND after the rename
    q_new = (
        spark.readStream.format("zest_changes")
        .option("root", root)
        .load()
        .writeStream.format("memory")
        .queryName("rn_new")
        .option("checkpointLocation", str(tmp_path / "c2"))
        .outputMode("append")
        .start()
    )
    try:
        q_new.processAllAvailable()
        assert set(spark.table("rn_new").columns) == {"doc_id", "host", "quality"}
        assert (
            spark.sql("SELECT count(*) n FROM rn_new WHERE quality IS NULL")
            .first()["n"] == 0
        )
        assert (
            spark.sql("SELECT quality FROM rn_new WHERE doc_id = 5").first()[
                "quality"
            ]
            == 7.5
        )
        # re-add the retired name: history must read NULL for it
        from pyspark.sql import types as T

        store.evolve_table_schema("rn_stream", [T.StructField("score", T.StringType())])
        store.append_table(
            "rn_stream",
            spark.createDataFrame(
                [(200, 1, 1.0, "fresh")],
                "doc_id long, host long, quality double, score string",
            ),
        )
        q_new.processAllAvailable()
        # the running stream stays pinned (no 'score' column) but the
        # new row's pinned columns arrive
        assert spark.sql("SELECT count(*) n FROM rn_new WHERE doc_id = 200").first()["n"] == 1
    finally:
        q_new.stop()
    # a third stream AFTER the re-add: 'score' is NULL for every
    # historical row and 'fresh' only for the new one
    q3 = (
        spark.readStream.format("zest_changes")
        .option("root", root)
        .load()
        .writeStream.format("memory")
        .queryName("rn_v3")
        .option("checkpointLocation", str(tmp_path / "c3"))
        .outputMode("append")
        .start()
    )
    try:
        q3.processAllAvailable()
        assert (
            spark.sql("SELECT count(*) n FROM rn_v3 WHERE score IS NOT NULL")
            .first()["n"] == 1
        )
        assert (
            spark.sql("SELECT score FROM rn_v3 WHERE doc_id = 200").first()["score"]
            == "fresh"
        )
    finally:
        q3.stop()


def test_drop_column_retires_physical(spark, store):
    """Round 11 — DROP COLUMN via column mapping: the logical column
    leaves the schema with zero rewrites; its physical name is retired
    permanently, so re-adding the same logical name allocates a FRESH
    physical and the dropped data can never resurrect; DML, stats,
    time travel, and fresh-process discovery all keep working."""
    from pyspark.sql import types as T

    store.create_table("dropped", _docs(spark, 0, 30), stats_cols=("doc_id", "score"))
    v0 = store.history("dropped")[-1].version
    store.drop_table_column("dropped", "score")
    out = store.load("dropped")
    assert set(out.columns) == {"doc_id", "host"}
    assert out.count() == 30
    # stats for the dropped column never leak; remaining ones stay
    ts = store.table_stats("dropped")
    assert "score" not in ts["min"] and "doc_id" in ts["min"]
    # appends/DML speak the narrowed schema
    store.append_table(
        "dropped", spark.createDataFrame([(100, 1)], "doc_id long, host long")
    )
    assert store.delete_table_rows("dropped", "doc_id < 3") >= 1
    # time travel reads pre-drop versions through the CURRENT schema
    t0 = store.load("dropped", version=v0)
    assert set(t0.columns) == {"doc_id", "host"} and t0.count() == 30
    # re-add 'score': fresh physical — history reads NULL, never the
    # dropped column's file data
    store.evolve_table_schema("dropped", [T.StructField("score", T.DoubleType())])
    again = store.load("dropped")
    assert again.filter("score IS NOT NULL").count() == 0
    store.append_table(
        "dropped",
        spark.createDataFrame([(200, 1, 9.5)], "doc_id long, host long, score double"),
    )
    assert store.load("dropped").filter("score = 9.5").count() == 1
    assert store.load("dropped").filter(
        "doc_id < 100 AND score IS NOT NULL"
    ).count() == 0
    # a fresh process discovers the retired set and the narrowed schema
    fresh = ZestStore(spark, store.root)
    assert fresh.load("dropped").filter("score IS NOT NULL").count() == 1
    # drop composes with rename: rename then drop the renamed column
    store.rename_table_column("dropped", "score", "quality")
    store.drop_table_column("dropped", "quality")
    assert set(store.load("dropped").columns) == {"doc_id", "host"}
    # refusals
    with pytest.raises(BadRequest, match="no column"):
        store.drop_table_column("dropped", "nope")
    store.drop_table_column("dropped", "host")
    with pytest.raises(BadRequest, match="last column"):
        store.drop_table_column("dropped", "doc_id")


def test_streaming_changes_across_column_drop(spark, store, tmp_path):
    """A stream started BEFORE a drop keeps its pinned columns (the
    dropped one null-fills on post-drop files — the physical stamp in
    the pinned schema resolves it, positions be damned); a stream
    started AFTER never sees it."""
    import os as _os

    from zestdb_spark.sources import register

    register(spark)
    store.create_table("dr_stream", _docs(spark, 0, 6))
    root = _os.path.join(store.root, "dr_stream")
    q_old = (
        spark.readStream.format("zest_changes")
        .option("root", root)
        .load()
        .writeStream.format("memory")
        .queryName("dr_old")
        .option("checkpointLocation", str(tmp_path / "c1"))
        .outputMode("append")
        .start()
    )
    try:
        q_old.processAllAvailable()
        assert spark.sql("SELECT count(*) n FROM dr_old").first()["n"] == 6
        store.drop_table_column("dr_stream", "score")
        # rename ANOTHER column after the drop: the pre-drop stream's
        # positional fallback would now misresolve — the physical
        # stamp must carry it
        store.rename_table_column("dr_stream", "host", "machine")
        store.append_table(
            "dr_stream",
            spark.createDataFrame([(100, 7)], "doc_id long, machine long"),
        )
        q_old.processAllAvailable()
        assert set(spark.table("dr_old").columns) == {"doc_id", "host", "score"}
        row = spark.sql("SELECT host, score FROM dr_old WHERE doc_id = 100").first()
        assert row["host"] == 7          # renamed column still resolves
        assert row["score"] is None      # dropped column null-fills
    finally:
        q_old.stop()
    q_new = (
        spark.readStream.format("zest_changes")
        .option("root", root)
        .load()
        .writeStream.format("memory")
        .queryName("dr_new")
        .option("checkpointLocation", str(tmp_path / "c2"))
        .outputMode("append")
        .start()
    )
    try:
        q_new.processAllAvailable()
        assert set(spark.table("dr_new").columns) == {"doc_id", "machine"}
        assert (
            spark.sql("SELECT machine FROM dr_new WHERE doc_id = 3").first()[
                "machine"
            ]
            == 3
        )
    finally:
        q_new.stop()
