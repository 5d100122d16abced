"""The engine's GET answer recomputed the plain way: ``plan_to_dataframe``
over the UNHINTED ``store.load`` (every live file, no scan hints),
shaped by the same serializer ``ZestEngine._get`` uses. Scan hints may
only shrink what is read, and the executor (the driver for
control-plane-sized reads, Spark above the budget) may not change the
answer, so every engine GET must equal this on both."""

from __future__ import annotations

import contextlib

from zestdb_spark import serializers
from zestdb_spark.plans import compile_path, plan_to_dataframe
from zestdb_spark.storage import ZestStore


def unhinted_get(eng, path: str) -> str:
    plan = compile_path(path)
    table = "ts_numeric" if plan.store == "numeric" else "ts_blob"
    df = plan_to_dataframe(plan, eng.store.load(table), sort=plan.agg is None)
    if plan.window.op == "length":
        return serializers.length_to_json(df)
    if plan.agg is not None:
        return serializers.aggregate_to_json(df)
    return serializers.rows_to_json(df, blob=plan.store == "blob")


@contextlib.contextmanager
def spark_executor():
    """Every read inside runs its Spark plan: the driver budget is 0."""
    budget = ZestStore._DRIVER_MAX_BYTES
    ZestStore._DRIVER_MAX_BYTES = 0
    try:
        yield
    finally:
        ZestStore._DRIVER_MAX_BYTES = budget


def assert_engine_parity(eng, paths) -> None:
    """Each engine GET equals ``unhinted_get``, byte for byte, on the
    driver executor and on Spark."""
    for path in paths:
        want = unhinted_get(eng, path)
        assert eng.get(path) == want, path
        with spark_executor():
            assert eng.get(path) == want, ("spark", path)
