"""Driver-side executor for a compiled ``QueryPlan``.

A control-plane-sized GET (the files one snapshot keeps for the read
total at most ``ZestStore._DRIVER_MAX_BYTES``) is answered here with
pyarrow instead of a Spark job. The files, the snapshot and the compiled
plan are the ones ``plan_to_dataframe`` would get; only the executor
differs, and the input size chooses it. The serialized answer must
equal the Spark plan's byte for byte, so the Spark semantics the reads
depend on are reproduced here:

- row order is ``ts_read._order_cols``: timestamp first, then every
  other column, NaN above +inf, nulls last (descending) or first
  (ascending);
- ``sum`` casts each double through its shortest repr to
  ``decimal(38,6)``, rounding HALF_UP; NaN and ±inf cast to NULL and
  drop out. ``mean`` divides that sum by the count of non-null values,
  NaN included;
- ``median`` is Spark's ``percentile`` interpolation.

Whatever the driver cannot answer identically raises ``Fallback``, and
the caller runs the Spark plan. That covers a vanished or unreadable
file, a sum outside ``decimal(38,6)`` (Spark raises
NUMERIC_VALUE_OUT_OF_RANGE), a -0.0 beside a +0.0, whose order Spark
leaves to its input order, and every ``sd``: Spark's one-pass variance
rounds in ways an exact driver answer would not reproduce at the 6th
decimal.

``read_tail`` and ``top_n`` are also the ``zest_tail`` source's reader
(sources/tail_source.py): the pyarrow read logic exists once.
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: data columns of the two TS layouts, in canonical order (the
#: ``series_id`` partition column comes from the file's relpath)
NUMERIC_COLS = ("timestamp", "value", "tag_name", "tag_value")
BLOB_COLS = ("timestamp", "data")

#: canonical nullable arrow types: files written by different jobs may
#: disagree on nullability alone (a rewrite's survivors come out
#: non-null after a filter), and concat_tables is strict about it
_TYPES = {
    "series_id": pa.string(),
    "timestamp": pa.int64(),
    "value": pa.float64(),
    "tag_name": pa.string(),
    "tag_value": pa.string(),
    "data": pa.string(),
}

#: decimal(38,6) holds |x| < 10**32, i.e. an unscaled |x| < 10**38
_DEC_LIMIT = 10**38
_DEC_CTX = Context(prec=80, rounding=ROUND_HALF_UP)
_MICRO = Decimal("0.000001")


class Fallback(Exception):
    """The driver cannot answer this read identically: run the Spark plan."""


def _schema(cols) -> pa.Schema:
    return pa.schema([pa.field(c, _TYPES[c]) for c in cols])


def order_indices(table: pa.Table, descending: bool) -> pa.Array:
    """Indices that sort ``table`` as ``ts_read._order_cols`` does:
    timestamp first, then every other column in table order. pyarrow
    places NaN beside the nulls; Spark orders it above +inf, so a NaN
    flag sorts just ahead of ``value``."""
    order = "descending" if descending else "ascending"
    names = ["timestamp"] + [c for c in table.column_names if c != "timestamp"]
    keys, cols = [], {}
    for c in names:
        if c == "value":
            cols["__nan"] = pc.is_nan(table["value"])
            keys.append(("__nan", order))
        cols[c] = table[c]
        keys.append((c, order))
    return pc.sort_indices(
        pa.table(cols),
        sort_keys=keys,
        null_placement="at_end" if descending else "at_start",
    )


def top_n(table: pa.Table, n: int, descending: bool) -> pa.Table:
    """The first ``n`` rows of ``table`` in ``_order_cols`` order."""
    return table.take(order_indices(table, descending)[:n])


def read_tail(paths, cols, n: int, mode: str) -> pa.Table:
    """The rows of ``paths`` (one series' files) that can hold its ``n``
    newest (``mode="last"``) or oldest (``"first"``) rows; ``top_n``
    then cuts them.

    Parquet FOOTERS first: row groups are ordered by their timestamp
    bound (max for "last", min for "first") and read one at a time
    until the rows read provably contain the top n, i.e. until at
    least n are read and the next group's bound falls strictly past the
    running n-th best timestamp (strict, so timestamp ties are still
    read for the total-order tie-break). Groups whose contents the
    footer cannot bound are read first and always: no timestamp stats,
    or, in "first" mode, a null timestamp (nulls sort first there)."""
    newest = mode == "last"
    order = "descending" if newest else "ascending"
    canonical = _schema(cols)
    # one handle per file, shared by the footer and data passes
    files: dict = {}
    try:
        groups: list[tuple] = []
        for path in paths:
            files[path] = pq.ParquetFile(path)
            md = files[path].metadata
            ts_idx = md.schema.names.index("timestamp")
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ts_idx).statistics
                bound = None
                if st is not None and st.has_min_max:
                    bound = st.max if newest else st.min
                    if not newest and not (st.has_null_count and st.null_count == 0):
                        bound = None
                groups.append((bound, path, g))
        sign = -1 if newest else 1
        groups.sort(key=lambda t: (t[0] is not None, sign * t[0] if t[0] is not None else 0))
        batches: list[pa.Table] = []
        count = 0
        cutoff = None  # running n-th best timestamp
        for bound, path, g in groups:
            if (
                count >= n
                and cutoff is not None
                and bound is not None
                and (bound < cutoff if newest else bound > cutoff)
            ):
                break
            t = files[path].read_row_group(g, columns=list(cols))
            batches.append(t.select(list(cols)).cast(canonical))
            count += t.num_rows
            if count >= n:
                ts = pa.concat_tables(batches)["timestamp"]
                best = pc.sort_indices(ts, sort_keys=[("", order)])[:n]
                cutoff = pc.take(ts, best)[-1].as_py() if n > 0 else None
    finally:
        for f in files.values():
            f.close()
    return pa.concat_tables(batches) if batches else canonical.empty_table()


def read_window(paths, cols, since=None, until=None) -> pa.Table:
    """Every row of ``paths`` with ``since <= timestamp <= until``
    (each bound optional; a bounded window drops null timestamps)."""
    canonical = _schema(cols)
    tables = []
    for path in paths:
        with pq.ParquetFile(path) as f:
            t = f.read(columns=list(cols)).select(list(cols)).cast(canonical)
        ts = t["timestamp"]
        if since is not None:
            t = t.filter(pc.greater_equal(ts, since))
            ts = t["timestamp"]
        if until is not None:
            t = t.filter(pc.less_equal(ts, until))
        tables.append(t)
    return pa.concat_tables(tables) if tables else canonical.empty_table()


def kv_keys(paths) -> list:
    """One KV namespace's keys (``paths``: its files) in the Spark
    read's order, the file's row order. A namespace of several files or
    row groups is several scan splits, whose order Spark leaves to its
    tasks: ``Fallback``."""
    if not paths:
        return []
    if len(paths) > 1:
        raise Fallback("keys over several scan splits")
    try:
        with pq.ParquetFile(paths[0]) as f:
            if f.num_row_groups > 1:
                raise Fallback("keys over several scan splits")
            return f.read(columns=["key"])["key"].to_pylist()
    except (OSError, KeyError, ValueError, pa.ArrowException) as e:
        raise Fallback(f"unreadable namespace: {e}") from e


def _mixed_zeros(values) -> bool:
    """Does ``values`` hold both a -0.0 and a +0.0? Spark compares them
    equal, so which one it orders, keeps or returns first depends on
    its input order."""
    v = pc.drop_null(values).to_numpy()
    signs = np.signbit(v[v == 0])
    return bool(signs.any() and not signs.all())


def answer(plan, parts: "dict[str, list[str]]"):
    """``plan``'s answer over ``parts`` ({series_id: file paths}, the
    files one snapshot keeps for the read): ``length`` → int, an
    aggregate → float or None (empty), a window read → the row dicts in
    presentation order. Raises ``Fallback``."""
    w = plan.window
    cols = BLOB_COLS if plan.store == "blob" else NUMERIC_COLS
    numeric = plan.store == "numeric"
    tail = w.op in ("latest", "last", "earliest", "first")
    n = 1 if w.op in ("latest", "earliest") else w.n
    if tail and n < 1:
        raise Fallback("non-positive top-n")
    if plan.agg == "sd":
        raise Fallback("sd runs on Spark")
    pieces = []
    try:
        for sid in dict.fromkeys(plan.ids):
            paths = parts.get(sid)
            if not paths:
                continue
            if tail:
                newest = w.op in ("latest", "last")
                t = read_tail(paths, cols, n, "last" if newest else "first")
                if numeric and _mixed_zeros(t["value"]):
                    raise Fallback("±0.0 in a top-n")
                t = top_n(t, n, newest)
            else:
                t = read_window(
                    paths, cols, w.from_ms, w.to_ms if w.op == "range" else None
                )
            pieces.append(t.add_column(0, "series_id", pa.array([sid] * t.num_rows, pa.string())))
    except (OSError, KeyError, ValueError, pa.ArrowException) as e:
        raise Fallback(f"unreadable input: {e}") from e
    table = pa.concat_tables(pieces) if pieces else _schema(("series_id",) + cols).empty_table()
    if w.op == "length":
        return table.num_rows
    if plan.filter is not None:
        op, tag, val = plan.filter
        tv = table["tag_value"]
        hit = pc.match_substring(tv, val) if op == "contains" else pc.equal(tv, val)
        table = table.filter(pc.and_(pc.equal(table["tag_name"], tag), hit))
    if plan.agg is not None:
        return aggregate(table["value"], plan.agg)
    if numeric and _mixed_zeros(table["value"]):
        raise Fallback("±0.0 in a window read")
    return table.take(order_indices(table, plan.descending)).to_pylist()


def aggregate(values, agg: str):
    """``ts_agg.AGGREGATES[agg]`` over a double column, for every
    aggregate but ``sd``; None is the NULL that renders as ``{}``."""
    v = pc.drop_null(values).to_numpy()
    if agg == "count":
        return float(v.size)
    if agg in ("sum", "mean"):
        total = _decimal_sum(v)
        if total is None or agg == "sum":
            return total
        return total / float(v.size)
    if v.size == 0:
        return None
    nan = np.isnan(v)
    if agg == "min":
        got = float(v[~nan].min()) if not nan.all() else math.nan
    elif agg == "max":
        got = math.nan if nan.any() else float(v.max())
    else:
        got = _median(np.sort(v))
    if (agg == "median" or got == 0) and _mixed_zeros(values):
        raise Fallback("±0.0 beside the answer")
    return got


def _decimal_sum(v: np.ndarray):
    """Σ cast(v as decimal(38,6)) cast back to double, or None when no
    value casts (all NaN/±inf, or none). Each finite value rounds
    HALF_UP at 6 dp of its shortest repr; vectorized where the double
    ``v * 1e6`` lies far enough from a .5 boundary to decide it, exact
    ``Decimal`` arithmetic elsewhere."""
    v = v[np.isfinite(v)]
    if v.size == 0:
        return None
    with np.errstate(over="ignore", invalid="ignore"):  # |v| near 1e308
        u = np.abs(v) * 1e6
        frac = u - np.floor(u)
        fast = (u < 2.0**40) & (np.abs(frac - 0.5) > 2.0**-10)
    q = np.floor(u[fast] + 0.5)
    q[v[fast] < 0] *= -1
    units = [int(x) for x in q.astype(np.int64)]
    for x in v[~fast]:
        if abs(x) >= 1e32:
            raise Fallback("value outside decimal(38,6)")
        d = _DEC_CTX.quantize(Decimal(repr(float(x))), _MICRO)
        units.append(int(d.scaleb(6, _DEC_CTX)))
    if sum(abs(x) for x in units) >= _DEC_LIMIT:
        # some summation order may leave decimal(38,6): Spark's answer
        raise Fallback("sum outside decimal(38,6)")
    total = sum(units)
    exact = total / 1_000_000  # correctly rounded, BigDecimal.doubleValue
    if exact != float(total) / 1e6:  # Spark's compact Decimal.toDouble
        raise Fallback("decimal to double rounding is path dependent")
    return exact


def _median(s: np.ndarray) -> float:
    """Spark's ``Percentile.getPercentile`` at 0.5 over sorted ``s``
    (NaN sorts last, as in Spark)."""
    position = (s.size - 1) * 0.5
    lower, higher = math.floor(position), math.ceil(position)
    lo = float(s[lower])
    if higher == lower:
        return lo
    hi = float(s[higher])
    if hi == lo or (math.isnan(hi) and math.isnan(lo)):
        return lo
    return (higher - position) * lo + (position - lower) * hi
