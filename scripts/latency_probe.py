"""Per-request latency probe — the measurements behind SCALE.md's
"Request latency" table.

Times the server-shaped ops (1-row TS/KV writes, api-edge reads —
last-family ``latest`` and ``last/50/filter``, and the manifest-folded
``length``, ``since/…/count`` and ``since/…/max`` — namespace rewrites, log riders) on a throwaway store, plus
``post_ts_wire``: a 1-row POST /ts round trip through ``ZestServer``
and a ``ZestReqClient`` over the ZMTP socket on loopback. First a COLD
pass (fresh session pays JVM/codegen warm-up — what serve --warm
absorbs), then N warm iterations, reporting the median.

Usage: python scripts/latency_probe.py [n_iters]   (default 10)
Prints one JSON line: {"cold": {...}, "warm_median": {...}, "n": N}.
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
    from zestdb_spark.transport import ZestReqClient, ZestServer

    spark = get_spark("latency_probe")
    eng = ZestEngine(spark, tempfile.mkdtemp(prefix="latprobe_"))
    srv = ZestServer(eng).start()
    cli = ZestReqClient(srv.rep.endpoint, timeout_s=60.0)

    def post_wire(i: int) -> None:
        body = json.dumps({"value": 1.0 * i}).encode()
        req = protocol.request_post(f"/ts/w{i}/at/{1000 + i}", body)
        resp = protocol.decode(cli.request(req))
        if resp.code != protocol.ACK_CREATED:
            raise RuntimeError(f"POST over the wire answered {resp.code}")

    def ops(i: int) -> "dict[str, float]":
        out: dict[str, float] = {}

        def t(label, fn):
            t0 = time.monotonic()
            fn()
            out[label] = round(time.monotonic() - t0, 4)

        t("post_ts", lambda: eng.post(f"/ts/s{i}/at/{1000 + i}", {"value": 1.0 * i}))
        t("post_ts_wire", lambda: post_wire(i))
        t("get_ts_latest", lambda: eng.get(f"/ts/s{i}/latest"))
        t("get_ts_last_filter", lambda: eng.get(f"/ts/s{i}/last/50/filter/k/equals/{i}"))
        t("get_ts_length", lambda: eng.get(f"/ts/s{i}/length"))
        t("get_ts_since_count", lambda: eng.get(f"/ts/s{i}/since/0/count"))
        t("get_ts_since_max", lambda: eng.get(f"/ts/s{i}/since/0/max"))
        t("post_kv", lambda: eng.post(f"/kv/ns{i}/k", json.dumps({"v": i})))
        t("get_kv_keys", lambda: eng.get(f"/kv/ns{i}/keys"))
        t("delete_kv", lambda: eng.delete(f"/kv/ns{i}/k"))
        t("get_empty_ns", lambda: eng.get(f"/kv/ns{i}/keys"))
        return out

    try:
        cold = ops(0)
        warm = [ops(i) for i in range(1, n + 1)]
    finally:
        cli.close()
        srv.stop()
    medians = {
        k: round(statistics.median(w[k] for w in warm), 4) for k in warm[0]
    }
    print(json.dumps({"cold": cold, "warm_median": medians, "n": n}))


if __name__ == "__main__":
    main()
