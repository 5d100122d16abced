"""Reference-shaped JSON results at the API edge (SURVEY.md §1.2).

The engine keeps everything as DataFrames; only this module renders the
reference's wire shapes (docs/README.md:118):
- row reads  → ``[{"timestamp": <int_ms>, "data": {...}}, ...]``
  (src/timeseries/timeseries.re:233-240)
- aggregates → ``{"result": <float>}`` or ``{}`` on empty input
  (src/numeric.re:22-27)
- length     → ``{"length": <int>}`` (timeseries.re:321)
- KV count   → ``{"count": <int>}``; KV keys → array of strings
  (src/keyvalue/keyvalue.re:35-36, keys.re:32-45)

``rows_to_json`` necessarily buffers the rendered rows (one JSON array
string has to exist in full before it can be returned), so it is for
API-SIZED results only — top-k reads and aggregates, the shapes the
reference's wire protocol actually returns. A full-corpus result
belongs in a DataFrame write, never in this module. A read answered
on the driver (plans/driver.py) renders its row dicts through
``records_to_json`` and its aggregate through ``result_to_json``, the
same shaping.
"""

from __future__ import annotations

import json
import math
from typing import Any

from pyspark.sql import DataFrame


def _row_data(row: dict[str, Any]) -> dict[str, Any]:
    """Rebuild the reference's data dict: {"value": v[, tag: tagval]}."""
    data: dict[str, Any] = {"value": row["value"]}
    if row.get("tag_name") is not None:
        data[row["tag_name"]] = row["tag_value"]
    return data


def _stream(df: DataFrame):
    """``toLocalIterator`` over ONE partition: the iterator otherwise
    pays one driver⇄executor round trip PER PARTITION (~0.1 s each —
    a result left at 32 shuffle partitions costs ~3-7 s of pure
    latency for a handful of rows; measured round 9, the whole
    api-edge read budget). ``coalesce(1)`` merges post-shuffle
    partitions in partition-index order inside one task, so a
    range-sorted result stays globally sorted and the stream still
    never materializes on the driver."""
    return df.coalesce(1).toLocalIterator()


def _shape_ts(d: dict[str, Any]) -> dict[str, Any]:
    return {"timestamp": d["timestamp"], "data": _row_data(d)}


def _shape_blob(d: dict[str, Any]) -> dict[str, Any]:
    return {"timestamp": d["timestamp"], "data": json.loads(d["data"])}


def rows_to_json(df: DataFrame, blob: bool = False) -> str:
    """API-sized by contract (see module docstring) — the JSON array
    must exist in full anyway, so ``collect()`` beats the local
    iterator's per-batch protocol round trips (~0.3 s on a top-k
    read)."""
    return records_to_json([r.asDict() for r in df.collect()], blob)


def records_to_json(records: "list[dict[str, Any]]", blob: bool = False) -> str:
    """Result rows as column-name dicts, in presentation order → the
    reference's row array."""
    shape = _shape_blob if blob else _shape_ts
    return json.dumps([shape(r) for r in records])


def aggregate_to_json(df: DataFrame) -> str:
    """1-row {result} frame → ``{"result": x}``; empty/NULL/NaN → ``{}``."""
    rows = df.collect()  # 1 row by construction
    return result_to_json(rows[0]["result"] if rows else None)


def result_to_json(val) -> str:
    """An aggregate's value → ``{"result": x}``; None/NaN → ``{}``.

    NULL arises from aggregating zero rows (and from stddev_samp over a
    single row, where Oml returns nan — both render as the reference's
    empty-object result, src/numeric.re:26)."""
    if val is None or (isinstance(val, float) and math.isnan(val)):
        return "{}"
    return json.dumps({"result": float(val)})


def length_to_json(df: DataFrame) -> str:
    rows = df.collect()
    return length_value_to_json(int(rows[0]["length"]) if rows else 0)


def length_value_to_json(n: int) -> str:
    return json.dumps({"length": int(n)})


def count_to_json(df: DataFrame) -> str:
    rows = df.collect()
    return json.dumps({"count": int(rows[0]["count"]) if rows else 0})


def keys_to_json(df: DataFrame) -> str:
    return json.dumps([r["key"] for r in _stream(df)])
