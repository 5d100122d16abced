"""Interactive ZestQL shell against a local ZestEngine — the engine's
answer to the reference's REPL (test/zestql/repl.re).

Usage:
  python scripts/zql_repl.py [store_dir]

  zest> post 42.0 to "sensor1" where "room" is "lounge";
  zest> get max from "sensor1" last 10;
  {"result": 42.0}
  zest> \\path /ts/sensor1/latest        (raw URI-path escape hatch)
  zest> \\q
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from zestdb_spark.api import ZestEngine  # noqa: E402
from zestdb_spark.errors import ZestError  # noqa: E402
from zestdb_spark.session import get_spark  # noqa: E402


def main() -> None:
    root = sys.argv[1] if len(sys.argv) > 1 else tempfile.mkdtemp(prefix="zest_")
    spark = get_spark("zql_repl")
    engine = ZestEngine(spark, root)
    print(f"zestdb-spark ZestQL shell — store at {root}; \\q quits, \\path <p> runs a raw GET")
    while True:
        try:
            line = input("zest> ").strip()
        except (EOFError, KeyboardInterrupt):
            break
        if not line:
            continue
        if line in ("\\q", "exit", "quit"):
            break
        try:
            if line.startswith("\\path "):
                print(engine.get(line[6:].strip()))
                continue
            out = engine.zestql(line)
            if out is not None:
                print(out)
            else:
                print("ok")
        except ZestError as e:
            print(f"error {e.code}: {e}")
    spark.stop()


if __name__ == "__main__":
    main()
