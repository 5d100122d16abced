"""Generic-table DML at 100k-file manifest scale (VERDICT r10 item #4).

Measures merge_table / delete_table_rows / optimize_table against a
table whose MANIFEST carries 100_000 file entries with per-file
doc_id min/max stats — the metadata regime of a real lakehouse table —
while only the files a pruned operation actually touches exist on
disk. That makes the probe SELF-ENFORCING: if candidate pruning ever
regresses to reading past the stats, Spark fails loudly on a missing
file instead of quietly reporting a slower number. The same holds
for ``ts_delete`` over a ``ts_numeric`` manifest of the same size,
built from synthetic ``series_id=…/time_bucket=…`` entries with
timestamp stats.

Reported per op: planning/pruning wall time, files touched, end-to-end
wall, and the commit cost (O(churn) delta). Run:

    python scripts/dml_scale_probe.py [n_files]

Results are recorded in SCALE.md ("Generic-table DML at manifest
scale").
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zestdb_spark import snapshots  # noqa: E402
from zestdb_spark.session import get_spark  # noqa: E402
from zestdb_spark.storage import ZestStore  # noqa: E402


def ts_delete_probe(store: ZestStore, spark, n_files: int) -> "tuple[float, int, int]":
    """Delete a tagged range inside ONE (series, day) leaf of a
    ts_numeric manifest holding ``n_files`` synthetic entries. The
    leaf's two real files are both candidates; only the one holding a
    matched row is rewritten. Returns (wall s, files removed, live)."""
    from zestdb_spark.plans import compile_path
    from zestdb_spark.schema import TS_NUMERIC

    day_ms, hot_day = 86_400_000, 7
    t_day = hot_day * day_ms
    # two real files in leaf (hot, hot_day): tagged rows [0, 100) s,
    # untagged rows [100, 200) s
    for j0, tag in ((0, "x"), (100, None)):
        rows = [
            ("hot", t_day + (j0 + j) * 1000, float(j), "room" if tag else None, tag)
            for j in range(100)
        ]
        store.write_numeric_bulk(spark.createDataFrame(rows, TS_NUMERIC).coalesce(1))
    table_dir = store._path("ts_numeric")
    real = set(store._snapshot("ts_numeric").files)

    series = ["hot"] + [f"s{k}" for k in range(99)]

    def synth(i: int) -> "tuple[str, dict] | None":
        sid, d = series[i % len(series)], i // len(series)
        if sid == "hot" and d == hot_day:
            return None  # the hot leaf holds only real files
        lo = d * day_ms + 1000
        st = {"rows": 100, "min": {"timestamp": lo},
              "max": {"timestamp": lo + 99_000}, "nulls": {"timestamp": 0}}
        return f"series_id={sid}/time_bucket={d}/synth-{i}.parquet", st

    batch = 10_000
    for start in range(0, n_files, batch):
        entries = dict(filter(None, map(synth, range(start, min(start + batch, n_files)))))
        snapshots.commit(table_dir, adds=list(entries), op="append", stats=entries)
    # a missing file in the hot leaf itself, outside the window's stats
    late = f"series_id=hot/time_bucket={hot_day}/synth-late.parquet"
    snapshots.commit(table_dir, adds=[late], op="append", stats={late: {
        "rows": 100, "min": {"timestamp": t_day + 80_000_000},
        "max": {"timestamp": t_day + 80_099_000}, "nulls": {"timestamp": 0}}})

    before = set(store._snapshot("ts_numeric").files)
    plan = compile_path(
        f"/ts/hot/range/{t_day + 50_000}/{t_day + 150_000}/filter/room/equals/x"
    )
    t0 = time.monotonic()
    store.ts_delete(plan)
    wall = time.monotonic() - t0
    removed = before - set(store._snapshot("ts_numeric").files)
    assert len(removed) == 1 and removed <= real, removed
    left = store.load(
        "ts_numeric", series={"hot"}, since_ms=t_day, until_ms=t_day + 200_000
    ).count()
    assert left == 150, left  # 50 tagged survivors + 100 untagged rows
    return wall, len(removed), len(before)


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    rows_per_file = 100
    spark = get_spark("dml-scale-probe", shuffle_partitions=8)
    root = tempfile.mkdtemp(prefix="dml_probe_")
    store = ZestStore(spark, os.path.join(root, "store"))
    table = "probe"

    def frame(lo: int, hi: int):
        return spark.createDataFrame(
            [(i, i % 7, float(i)) for i in range(lo, hi)],
            "doc_id long, host long, score double",
        )

    # table with stats on the merge/delete key; the create's own files
    # cover doc_id [0, 100)
    store.create_table(table, frame(0, 100), stats_cols=("doc_id",))

    # bulk-register synthetic manifest entries: file i covers
    # [base + i*rows, base + (i+1)*rows) with exact min/max stats.
    # Commit in batches (each an O(churn) delta, like real ingest).
    base = 1_000_000
    t0 = time.monotonic()
    batch = 10_000
    for start in range(0, n_files, batch):
        names = [f"synth-{i}.parquet" for i in range(start, min(start + batch, n_files))]
        stats = {
            f"synth-{i}.parquet": {
                "rows": rows_per_file,
                "min": {"doc_id": base + i * rows_per_file},
                "max": {"doc_id": base + (i + 1) * rows_per_file - 1},
            }
            for i in range(start, min(start + batch, n_files))
        }
        snapshots.commit(store._path(table), adds=names, op="append", stats=stats)
    t_register = time.monotonic() - t0

    # materialize ONLY the two files a narrow merge will hit
    hit_ids = [40, 41]
    for i in hit_ids:
        lo = base + i * rows_per_file
        df = frame(lo, lo + rows_per_file)
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(root, "tmp"))
        part = next(
            f for f in os.listdir(os.path.join(root, "tmp")) if f.startswith("part-")
        )
        shutil.move(
            os.path.join(root, "tmp", part),
            os.path.join(store._path(table), f"synth-{i}.parquet"),
        )

    snap = store._snapshot(table)
    print(f"manifest: {len(snap.files)} files, registered in {t_register:.2f}s "
          f"({n_files / max(t_register, 1e-9):,.0f} files/s)")

    # -- keyed MERGE: updates hit 150 keys inside the two real files --
    lo = base + hit_ids[0] * rows_per_file
    updates = spark.createDataFrame(
        [(lo + j, 0, -1.0) for j in range(150)],
        "doc_id long, host long, score double",
    )
    t0 = time.monotonic()
    touched = store.merge_table(table, updates, key_cols=("doc_id",))
    t_merge = time.monotonic() - t0
    print(f"merge_table: {touched} files rewritten of {len(snap.files)} "
          f"live, {t_merge:.2f}s end-to-end (pruning self-enforced: "
          f"un-pruned candidates do not exist on disk)")
    assert touched == len(hit_ids), touched

    # -- no-hit MERGE: keys beyond every file's range → zero candidates --
    far = spark.createDataFrame(
        [(base + (n_files + 10) * rows_per_file + j, 0, 0.0) for j in range(50)],
        "doc_id long, host long, score double",
    )
    t0 = time.monotonic()
    touched = store.merge_table(table, far, key_cols=("doc_id",))
    t_nohit = time.monotonic() - t0
    print(f"merge_table (no-hit): {touched} files rewritten, {t_nohit:.2f}s "
          f"(pure metadata + insert-append cost)")
    assert touched == 0

    # -- predicate DELETE: stats-pruned hit detection --
    lo41 = base + hit_ids[1] * rows_per_file
    t0 = time.monotonic()
    touched = store.delete_table_rows(
        table, f"doc_id >= {lo41} AND doc_id <= {lo41 + 9}"
    )
    t_del = time.monotonic() - t0
    print(f"delete_table_rows: {touched} files rewritten, {t_del:.2f}s "
          f"(manifest-stats pruning; full-scan fallback would fail on "
          f"the {n_files - 2} missing files)")
    # hits live in the merge's rewrite/insert files (the insert append
    # may span a few part files) — bounded, never the 100k manifest
    assert 1 <= touched <= 8, touched

    # -- commit cost at head: one more append delta --
    t0 = time.monotonic()
    store.append_table(table, frame(200, 250))
    t_append = time.monotonic() - t0
    snap = store._snapshot(table)
    deltas = sorted(
        os.path.getsize(os.path.join(store._path(table), "_zest_log", f))
        for f in os.listdir(os.path.join(store._path(table), "_zest_log"))
    )
    print(f"append_table at {len(snap.files)}-file head: {t_append:.2f}s; "
          f"log entries {len(deltas)}, median size {deltas[len(deltas)//2]} B")

    # -- TS window DELETE (ts_delete) over a ts_numeric manifest of the
    #    same size: synthetic (series, day) leaves with timestamp stats,
    #    real files only in the one leaf the window can reach --
    t_tsdel, ts_touched, ts_live = ts_delete_probe(store, spark, n_files)
    print(f"ts_delete: {ts_touched} file rewritten of {ts_live} live, "
          f"{t_tsdel:.2f}s (partition + stats pruning; a whole-leaf or "
          f"whole-table read would fail on the missing files)")

    # -- optimize_table is a data rewrite by design: probe it on the
    #    REAL files only (a separate small table) so the number means
    #    'rewrite cost', not 'missing file crash' --
    store.create_table("opt", frame(0, 5000), stats_cols=("doc_id",))
    for k in range(6):
        store.append_table("opt", frame(5000 + k * 1000, 6000 + k * 1000))
    live = len(store._snapshot("opt").files)
    t0 = time.monotonic()
    n = store.optimize_table("opt", target_files=4, zorder_by=("doc_id", "host"))
    t_opt = time.monotonic() - t0
    print(f"optimize_table (real data, {live} files → 4, z-ordered): "
          f"{n} replaced, {t_opt:.2f}s — cost ∝ data rewritten, as designed")

    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
