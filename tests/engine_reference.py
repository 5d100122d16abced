"""The engine's GET answer recomputed the plain way: ``plan_to_dataframe``
over the UNHINTED ``store.load`` (every live file, no scan hints),
shaped by the same serializer ``ZestEngine._get`` uses. Scan hints may
only shrink what is read, so every engine GET must equal this."""

from __future__ import annotations

from zestdb_spark import serializers
from zestdb_spark.plans import compile_path, plan_to_dataframe


def unhinted_get(eng, path: str) -> str:
    plan = compile_path(path)
    table = "ts_numeric" if plan.store == "numeric" else "ts_blob"
    df = plan_to_dataframe(plan, eng.store.load(table), sort=plan.agg is None)
    if plan.window.op == "length":
        return serializers.length_to_json(df)
    if plan.agg is not None:
        return serializers.aggregate_to_json(df)
    return serializers.rows_to_json(df, blob=plan.store == "blob")
