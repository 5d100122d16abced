"""Time-series deletes (SURVEY.md §2.7 D1-D2).

Reference semantics (src/server.re:976-1021, timeseries.re:431-487):
- DELETE /ts/<ids>/since|range/...[/filter/...] runs the equivalent
  read, collects matching TIMESTAMPS, then rewrites shards dropping
  every row whose timestamp is in that set — so rows that merely share
  a timestamp with a matched row are collateral-deleted.
- Deletes by count (first/last) or of aggregates are rejected with
  CoAP 134 (src/server.re:955-974).

The engine computes the surviving row set declaratively. Default mode
is the sane predicate delete (drop exactly the matched rows); the
reference's collision quirk is available behind ``compat_collateral``
for bug-for-bug parity (SURVEY.md §7.4 flags this decision).

At scale both modes are a single anti-join / predicate filter over the
stats-pruned candidate files; ``ZestStore.ts_delete`` rewrites only the
files holding a ``deleted_rows`` row (``DELETE FROM`` on Delta/Iceberg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from zestdb_spark.errors import UnsupportedMethod
from zestdb_spark.operators import ts_filter, ts_read
from zestdb_spark.plans.plan import QueryPlan


def delete_plan(df: DataFrame, plan: QueryPlan, compat_collateral: bool = False) -> DataFrame:
    """→ surviving rows after the delete described by ``plan``.

    ``plan`` must be a since/range window with an optional filter and no
    aggregate — anything else is the reference's guarded path → 134.
    """
    return _split(df, plan, compat_collateral)[1]


def deleted_rows(df: DataFrame, plan: QueryPlan, compat_collateral: bool = False) -> DataFrame:
    """→ the rows of ``df`` the delete removes: exactly the complement
    of ``delete_plan`` (the storage layer rewrites only the files that
    hold one of these rows)."""
    return _split(df, plan, compat_collateral)[0]


def _split(df: DataFrame, plan: QueryPlan, compat_collateral: bool):
    """(deleted, surviving) rows of ``df`` — one decision for both, so
    a row is always in exactly one of them."""
    if plan.window.op not in ("since", "range") or plan.agg is not None:
        raise UnsupportedMethod(f"delete unsupported for {plan.window.op}/agg paths")

    w = plan.window
    ids = list(plan.ids)
    if compat_collateral:
        if w.op == "since":
            matched = ts_read.read_since(df, ids, w.from_ms)
        else:
            matched = ts_read.read_range(df, ids, w.from_ms, w.to_ms)
        if plan.filter is not None:
            op, tag, val = plan.filter
            matched = (
                ts_filter.tag_equals(matched, tag, val)
                if op == "equals"
                else ts_filter.tag_contains(matched, tag, val)
            )
        # reference quirk: delete ALL rows sharing a matched timestamp
        # within the selected series (timeseries.re:431-487)
        doomed_ts = matched.select("series_id", "timestamp").distinct()
        key = ["series_id", "timestamp"]
        return df.join(doomed_ts, key, "semi"), df.join(doomed_ts, key, "left_anti")

    # predicate delete: drop exactly the matched rows — expressible as a
    # pure filter (no join) since the match condition is row-local.
    # Empty ids matches NOTHING (a delete names its series; the storage
    # layer's partition pruning is a no-op for empty ids, and this layer
    # must agree rather than silently delete every series)
    in_ids = F.col("series_id").isin(ids) if ids else F.lit(False)
    cond = in_ids & (F.col("timestamp") >= F.lit(w.from_ms))
    if w.op == "range":
        cond = cond & (F.col("timestamp") <= F.lit(w.to_ms))
    if plan.filter is not None:
        op, tag, val = plan.filter
        tag_cond = (
            (F.col("tag_name") == tag) & (F.col("tag_value") == val)
            if op == "equals"
            else (F.col("tag_name") == tag) & F.col("tag_value").contains(val)
        )
        cond = cond & tag_cond
    hit = F.coalesce(cond, F.lit(False))
    return df.filter(hit), df.filter(~hit)
