"""Per-request latency probe — the measurements behind SCALE.md's
"Request latency" table and README's per-executor latency table.

Times the server-shaped ops on a throwaway store: 1-row TS/KV writes,
namespace rewrites and their log riders, ``post_ts_wire`` (a 1-row
POST /ts round trip through ``ZestServer`` and a ``ZestReqClient`` over
the ZMTP socket on loopback), and every GET kind the ``iot_serve``
workload sends: ``latest``, ``last/50/filter``, ``length``, ``since``
``count``/``max``/``mean``/``sum``, ``range`` ``median`` and KV
``keys``. Each GET is timed on both executors: ``driver`` (the
control-plane-sized read plans/driver.py answers with pyarrow) and
``spark`` (the same read with the driver budget
``ZestStore._DRIVER_MAX_BYTES`` set to 0, so the Spark plan runs).
First a COLD pass (fresh session pays JVM/codegen warm-up — what serve
--warm absorbs), then N warm iterations, reporting the median.

Usage: python scripts/latency_probe.py [n_iters]   (default 10)
Prints one JSON line: {"cold": {...}, "warm_median": {"writes": {...},
"driver": {...}, "spark": {...}}, "n": N}.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    n = max(1, int(sys.argv[1])) if len(sys.argv) > 1 else 10

    from zestdb_spark import protocol
    from zestdb_spark.api import ZestEngine
    from zestdb_spark.session import get_spark
    from zestdb_spark.storage import ZestStore
    from zestdb_spark.transport import ZestReqClient, ZestServer

    spark = get_spark("latency_probe")
    eng = ZestEngine(spark, tempfile.mkdtemp(prefix="latprobe_"))
    srv = ZestServer(eng).start()
    cli = ZestReqClient(srv.rep.endpoint, timeout_s=60.0)
    budget = ZestStore._DRIVER_MAX_BYTES

    def post_wire(i: int) -> None:
        body = json.dumps({"value": 1.0 * i}).encode()
        req = protocol.request_post(f"/ts/w{i}/at/{1000 + i}", body)
        resp = protocol.decode(cli.request(req))
        if resp.code != protocol.ACK_CREATED:
            raise RuntimeError(f"POST over the wire answered {resp.code}")

    def ops(i: int) -> "dict[str, dict[str, float]]":
        out: dict[str, dict[str, float]] = {"writes": {}, "driver": {}, "spark": {}}

        def t(label, fn):
            t0 = time.monotonic()
            fn()
            out["writes"][label] = round(time.monotonic() - t0, 4)

        def reads(gets):
            for executor, cap in (("driver", budget), ("spark", 0)):
                ZestStore._DRIVER_MAX_BYTES = cap
                try:
                    for label, path in gets:
                        t0 = time.monotonic()
                        eng.get(path)
                        out[executor][label] = round(time.monotonic() - t0, 4)
                finally:
                    ZestStore._DRIVER_MAX_BYTES = budget

        s = f"/ts/s{i}"
        t("post_ts", lambda: eng.post(f"{s}/at/{1000 + i}", {"value": 1.0 * i, "k": str(i)}))
        t("post_ts_wire", lambda: post_wire(i))
        t("post_kv", lambda: eng.post(f"/kv/ns{i}/k", {"v": i}))
        reads(
            [
                ("get_ts_latest", f"{s}/latest"),
                ("get_ts_last_filter", f"{s}/last/50/filter/k/equals/{i}"),
                ("get_ts_length", f"{s}/length"),
                ("get_ts_since_count", f"{s}/since/0/count"),
                ("get_ts_since_max", f"{s}/since/0/max"),
                ("get_ts_since_mean", f"{s}/since/0/mean"),
                ("get_ts_since_sum", f"{s}/since/0/sum"),
                ("get_ts_range_median", f"{s}/range/0/{2000 + i}/median"),
                ("get_kv_keys", f"/kv/ns{i}/keys"),
            ]
        )
        t("delete_kv", lambda: eng.delete(f"/kv/ns{i}/k"))
        reads([("get_empty_ns", f"/kv/ns{i}/keys")])
        return out

    try:
        cold = ops(0)
        warm = [ops(i) for i in range(1, n + 1)]
    finally:
        cli.close()
        srv.stop()
    medians = {
        group: {k: round(statistics.median(w[group][k] for w in warm), 4) for k in warm[0][group]}
        for group in warm[0]
    }
    print(json.dumps({"cold": cold, "warm_median": medians, "n": n}))


if __name__ == "__main__":
    main()
