"""``corpus_pipeline``: the ``__spark_entry__`` rows whose code lives in
``functions/`` - the rows the roadmap's corpus directions name.

``mapInArrow`` kernels, shuffles and persists do nearly all the work;
``storage``, ``api`` and the wire stay idle. Every timed call follows
``spark.catalog.clearCache()``, so each call pays for the caches it
builds and a persist trade shows up in the call that makes it.

One operation is one row call: build the frame + ``collect()``. Each
of two passes runs every row once in a fixed order: the first rows of a
fresh JVM pay seconds of one-off code generation, and a seeded order
moved that cost between rows from run to run. A row's time is its
faster call, so the first pass's one-off costs do not count. The seed
varies the data.

A traced run traces each row's call in one pass only, alternating
between rows, and takes the row's layer figures right after that call,
outside the measured time.
"""

from __future__ import annotations

import time

import datagen
from harness import Checks, JobCounter, Op, Outcome, duckdb_over, frames_match, med

ROWS = [
    "corpus_dsir",
    "dedup_minhash",
    "dedup_keep",
    "dedup_semantic",
    "text_tfidf",
    "text_bm25",
    "sk_heavy_hitters",
    "pipe_clean_corpus",
    "sim_knn_join",
    "dedup_spans_hashed",
]
PASSES = 2


def make_inputs(out_dir: str, seed: int) -> str:
    return datagen.write_tables(
        out_dir, seed, {"documents": 1000, "embeddings": 800, "lineitem": 100_000}
    )


def run(spark, seed, tracer, data_dir, work) -> Outcome:
    import pandas as pd

    import __spark_entry__ as entry

    qs = entry.queries()
    sc = spark.sparkContext
    jobs = JobCounter(spark, tracer.enabled)

    # warm-up: the documents loader and one kernel, so the first timed
    # row does not pay JVM class loading and Python worker start alone
    t0 = time.perf_counter()
    qs["text_bm25"](spark, data_dir).collect()
    setup_s = time.perf_counter() - t0

    ops: list[Op] = []
    errors: list[str] = []
    last: dict[str, tuple] = {}
    per_row: dict[str, list[float]] = {}
    tr: dict[str, list[float]] = {k: [] for k in ("noop", "rdds", "cw", "jobs", "tasks")}
    split: dict[str, list[float]] = {"build": [], "collect": []}
    op_id = 0
    untimed_s = 0.0
    t_meas = time.perf_counter()
    for p in range(PASSES):
        for i, name in enumerate(ROWS):
            op_id += 1
            tracer.op = op_id
            tracer.on = tracer.enabled and (p + i) % 2 == 0
            spark.catalog.clearCache()
            jobs.enter(op_id)
            ok = True
            t = time.perf_counter()
            try:
                with tracer.span("op"):
                    with tracer.span("functions.build"):
                        df = qs[name](spark, data_dir)
                    with tracer.span("functions.collect"):
                        rows = df.collect()
            except Exception as exc:  # noqa: BLE001 - a failed row is counted, not fatal
                ok = False
                errors.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
            dt = time.perf_counter() - t
            ops.append(Op(name, dt, ok, tracer.on))
            per_row.setdefault(name, []).append(ops[-1].charged())
            if ok:
                last[name] = (df.columns, rows)
            if tracer.on and ok:
                t = time.perf_counter()
                for part in split:
                    split[part] += tracer.durations(f"functions.{part}", {op_id})
                _trace_row(spark, sc, qs, name, data_dir, dt, jobs, op_id, tr)
                untimed_s += time.perf_counter() - t
    tracer.on = False
    measured_s = time.perf_counter() - t_meas - untimed_s

    # output checks, untimed: each row's last result against its
    # oracle_sql() pair run by DuckDB over the same parquet
    checks = Checks()
    con = duckdb_over(data_dir)
    oracles = entry.oracle_sql()
    for name in ROWS:
        if not checks.check(name in last, f"{name}: no result"):
            continue
        cols, rows = last[name]
        ok, why = frames_match(
            pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols),
            con.execute(oracles[name]).fetchdf(),
        )
        checks.check(ok, f"{name}: {why}")

    per_layer: dict[str, float] = {}
    if tracer.enabled:
        per_layer = {
            "functions.build_s": sum(split["build"]),
            "functions.collect_s": sum(split["collect"]),
            "functions.exec_s": sum(tr["noop"]),
            "functions.persisted_rdds": med(tr["rdds"]),
            "functions.cold_warm_ratio": med(tr["cw"]),
            "session.jobs_per_row": med(tr["jobs"]),
            "session.tasks_per_row": med(tr["tasks"]),
        }
    return Outcome(
        ops=ops,
        measured_s=measured_s,
        setup_s=setup_s,
        kind_stat=min,
        checks_attempted=checks.attempted,
        checks_failed=checks.failed,
        failures=errors[:10] + checks.messages,
        per_layer=per_layer,
        detail={
            "corpus_suite_s": sum(min(v) for v in per_row.values()),
            "calls_s": per_row,
        },
    )


def _trace_row(spark, sc, qs, name, data_dir, cold_s, jobs, op_id, tr) -> None:
    """Per-row layer figures, all after the timed call: Spark jobs and
    tasks it ran, RDDs it left persisted, an immediate repeat (warm
    caches) against the cold call, and a noop write of a fresh build
    after ``clearCache`` for execution alone."""
    j, k = jobs.collect(op_id)
    tr["jobs"].append(j)
    tr["tasks"].append(k)
    tr["rdds"].append(len(sc._jsc.getPersistentRDDs()))
    t = time.perf_counter()
    qs[name](spark, data_dir).collect()
    tr["cw"].append(cold_s / max(time.perf_counter() - t, 1e-9))
    spark.catalog.clearCache()
    df = qs[name](spark, data_dir)
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    tr["noop"].append(time.perf_counter() - t)
