"""QueryPlan → DataFrame.

This is the whole "physical planning" story: we express the plan with
declarative DataFrame ops and let Catalyst do predicate pushdown, column
pruning, partition pruning and whole-stage codegen. The fixed
filter-before-aggregate pipeline order of the reference
(src/server.re:232-253) is preserved trivially — and Catalyst would
reorder a filter below a window read's shuffle anyway where legal.
File pruning happens before this, in the scan the caller passes in
(``ZestStore.load`` scan hints, including the last/first ``tail``
hint): the window stage here is always the exact canonical one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from zestdb_spark.errors import BadRequest
from zestdb_spark.operators import ts_agg, ts_filter, ts_read
from zestdb_spark.plans.plan import QueryPlan


def plan_to_dataframe(plan: QueryPlan, df: DataFrame, sort: bool = False) -> DataFrame:
    """Compile ``plan`` against a ts-shaped DataFrame (numeric or blob).

    ``sort=True`` applies the reference presentation order (desc for the
    last-family); leave False for hash-compared/aggregated outputs where
    row order is irrelevant and the sort would be a wasted global
    exchange at scale.
    """
    w = plan.window
    ids = list(plan.ids)

    if w.op == "length":
        return ts_read.ts_length(df, ids)
    if w.op == "latest":
        out = ts_read.read_latest(df, ids)
    elif w.op == "earliest":
        out = ts_read.read_earliest(df, ids)
    elif w.op == "last":
        out = ts_read.read_last(df, ids, w.n)
    elif w.op == "first":
        out = ts_read.read_first(df, ids, w.n)
    elif w.op == "since":
        out = ts_read.read_since(df, ids, w.from_ms)
    elif w.op == "range":
        out = ts_read.read_range(df, ids, w.from_ms, w.to_ms)
    else:  # pragma: no cover
        raise BadRequest(f"unknown window op {w.op!r}")

    if plan.filter is not None:
        op, tag, val = plan.filter
        if op == "equals":
            out = ts_filter.tag_equals(out, tag, val)
        elif op == "contains":
            out = ts_filter.tag_contains(out, tag, val)
        else:  # pragma: no cover
            raise BadRequest(f"unknown filter op {op!r}")

    if plan.agg is not None:
        return ts_agg.apply_aggregate(out, plan.agg)

    if sort:
        out = ts_read.sort_result(out, plan.descending)
    return out
