"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Workloads (see BENCHMARK.json for why
each exists and which layers it loads):

- ``iot_serve``       point writes and path-query reads over the ZMTP wire
- ``corpus_pipeline`` the corpus kernels under ``functions/``

The run makes its inputs from ``--seed`` inside ``.perfbench_work/`` of
the checkout, sets up, runs the workload's fixed schedule, checks the
outputs, and prints one JSON object as its last stdout line:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it carries the environment and the
workload's own named metrics. A traced run also writes its spans to
``.perfbench_work/traces/``.

Every end-to-end metric is defined for every workload over that
workload's timed operations (a request, a corpus row call), grouped by
operation kind (``post_ts``, ``dedup_keep`` ...). A kind's time is the
median of its operations' times, except where the workload says
otherwise (``corpus_pipeline`` takes each row's fastest call):

- ``suite_s``: sum over kinds of the kind's time;
- ``geomean_op_ms``: geometric mean over kinds of the kind's time, so
  every kind weighs the same whatever its size;
- ``ops_per_s``: completed operations per second of measured time;
- ``setup_s``: session start + store seeding + warm-up, up to the
  first timed operation (input generation excluded).

The detail line adds the 50th/90th percentile over all operations,
``peak_rss_mb`` (VmHWM of this process plus its JVM and workers) and
each workload's own figures (write/read percentiles of ``iot_serve``,
per-kind times). A failed operation counts as slower than any limit in
every figure.

A schedule does the same work on every run whatever ``--seconds`` says,
so every run of a workload ends in the same state; ``--seconds`` is
accepted for the common benchmark interface and recorded.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("iot_serve", "corpus_pipeline")

END_TO_END = {
    "suite_s": "s",
    "geomean_op_ms": "ms",
    "ops_per_s": "1/s",
    "setup_s": "s",
}


def _load_per_layer() -> "dict[str, str]":
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def kind_times(ops, stat) -> "dict[str, float]":
    """Each operation kind's time: ``stat`` over its operations' times."""
    kinds: dict[str, list[float]] = {}
    for o in ops:
        kinds.setdefault(o.kind, []).append(o.charged())
    return {k: stat(v) for k, v in kinds.items()}


def geomean(values) -> float:
    v = [max(x, 1e-9) for x in values]
    return math.exp(sum(math.log(x) for x in v) / max(1, len(v)))


def overhead_ratio(out) -> float:
    """Traced over untraced end-to-end time in one traced run, whose
    tracer records every other operation: the geometric mean over kinds
    seen both ways of the kind's traced time ÷ its untraced time."""
    on = kind_times([o for o in out.ops if o.traced], out.kind_stat)
    off = kind_times([o for o in out.ops if not o.traced], out.kind_stat)
    return geomean(on[k] / off[k] for k in on.keys() & off.keys())


def end_to_end(out) -> dict:
    from harness import pct, peak_rss_mb

    times = [o.charged() for o in out.ops]
    kinds = kind_times(out.ops, out.kind_stat)
    done = sum(1 for o in out.ops if o.ok)
    return {
        "op_p50_ms": pct(times, 50) * 1000.0,
        "op_p90_ms": pct(times, 90) * 1000.0,
        "suite_s": sum(kinds.values()),
        "geomean_op_ms": geomean(kinds.values()) * 1000.0,
        "ops_per_s": done / out.measured_s,
        "setup_s": out.setup_s,
        "peak_rss_mb": peak_rss_mb(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the program under test lives beside this directory; without it
    # there is nothing to measure, so fail before doing any work
    for need in ("zestdb_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    sys.path[:0] = [HERE, ROOT]
    import harness

    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    env = harness.pin_env(ROOT, work, args.seed)
    env["seconds_arg"] = args.seconds
    per_layer_units = _load_per_layer() if args.trace else {}
    module = importlib.import_module(args.workload)
    data_dir = module.make_inputs(os.path.join(work, "data"), args.seed)

    t0 = time.perf_counter()
    spark = harness.start_session()
    session_s = time.perf_counter() - t0
    tracer = harness.Tracer(bool(args.trace))
    try:
        out = module.run(
            spark=spark,
            seed=args.seed,
            tracer=tracer,
            data_dir=data_dir,
            work=work,
        )
        out.setup_s += session_s
        metrics = end_to_end(out)
        if args.trace:
            out.per_layer["tracing.overhead_ratio"] = overhead_ratio(out)
            trace_path = os.path.join(
                work_root, "traces", f"{args.workload}-seed{args.seed}.json"
            )
            tracer.dump(trace_path, {"detail": out.detail, "per_layer": out.per_layer})
    finally:
        tracer.unpatch()
        harness.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_ops = sum(1 for o in out.ops if not o.ok)
    attempted = len(out.ops) + out.checks_attempted
    failed = failed_ops + out.checks_failed
    if args.trace:
        missing = sorted(set(per_layer_units) - set(out.per_layer))
        for name in missing:  # a layer this workload never calls did no work
            out.per_layer[name] = 0.0
        shown = {k: {"value": float(out.per_layer[k]), "unit": u} for k, u in per_layer_units.items()}
    else:
        shown = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "workload": args.workload,
                "env": env,
                "ops": len(out.ops),
                "measured_s": out.measured_s,
                "end_to_end": metrics,
                "detail": out.detail,
                "per_layer": out.per_layer,
                "failures": out.failures,
            },
            default=str,
        )
    )
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": shown,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
