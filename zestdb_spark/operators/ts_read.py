"""Window reads over time-series tables (SURVEY.md §2.2 P3-P4, §2.5 T1-T5,
§2.3 J1, §2.4 A8).

Reference semantics (me-box/zestdb):
- ``last/n`` / ``first/n`` limits apply **per series** — a k-id read
  returns up to k·n rows, then the merged set is globally sorted
  (src/timeseries/timeseries.re:267-305, fold over ids at :275-283).
- ``since/t`` is inclusive ``timestamp >= t`` (timeseries.re:350,395-409);
  ``range/t1/t2`` is inclusive on both ends (timeseries.re:411-429).
- ``latest``/``earliest`` are per-series last/1 and first/1
  (timeseries.re:285-286,307-308).
- Multi-series reads are a UNION ALL of per-series reads, NOT a
  relational join (src/server.re:208-215, docs/README.md:196-198).
- Result ordering: ``last*``-family sorts timestamp descending,
  ``first*``-family ascending (sort_result, timeseries.re:168-175). The
  reference sort is unstable on equal timestamps; we impose a total
  order (timestamp, value, tag_name, tag_value, series_id) so results
  are deterministic and hash-comparable.

Scale notes: per-series top-k uses a ranking window partitioned by
``series_id`` — this shuffles once on the series key, which is exactly
the partitioning the storage layer writes (partitionBy series_id), so at
cluster scale AQE turns it into a mostly-local operation. Single-series
top-k short-circuits to ``orderBy().limit(n)`` which Spark executes as
TakeOrderedAndProject (no full sort, no full shuffle) — the Spark
analogue of the reference's index-walk early termination
(timeseries.re:197-231).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def _order_cols(df: DataFrame, descending: bool) -> list:
    """Deterministic tie-break: total order over ALL row columns (works
    for both numeric and blob layouts). Ties in every key mean the rows
    are identical, so any choice yields the same result set. Columns are
    ordered timestamp-first to match the reference's primary sort."""
    names = ["timestamp"] + [c for c in df.columns if c != "timestamp"]
    if descending:
        return [F.col(c).desc_nulls_last() for c in names]
    return [F.col(c).asc_nulls_first() for c in names]


def select_series(df: DataFrame, ids: Sequence[str]) -> DataFrame:
    """Restrict to the requested series (J1 union-all semantics).

    ``isin`` compiles to an IN predicate that reaches the parquet scan
    (PushedFilters), so only the selected series' row groups are read —
    with the table partitioned by series_id this is partition pruning.
    """
    if not ids:
        return df
    if len(ids) == 1:
        return df.filter(F.col("series_id") == ids[0])
    return df.filter(F.col("series_id").isin(list(ids)))


def read_since(df: DataFrame, ids: Sequence[str], from_ms: int) -> DataFrame:
    """P3: timestamp >= from (inclusive)."""
    return select_series(df, ids).filter(F.col("timestamp") >= F.lit(int(from_ms)))


def read_range(df: DataFrame, ids: Sequence[str], from_ms: int, to_ms: int) -> DataFrame:
    """P4: t1 <= timestamp <= t2 (both inclusive)."""
    return select_series(df, ids).filter(
        F.col("timestamp").between(int(from_ms), int(to_ms))
    )


def read_last(df: DataFrame, ids: Sequence[str], n: int) -> DataFrame:
    """T2: newest n rows PER SERIES, merged (up to k·n rows for k ids).

    Strategy: single series → TakeOrderedAndProject (limit pushed into
    the sort, no window); multi-series → one per-series ranking window.
    Skew safety comes from Spark's WindowGroupLimit (3.5+): the rank
    limit is applied PARTIAL-mode inside every input partition before
    the exchange, so a hot series is pruned to ≤ n rows per upstream
    partition and the shuffle carries ≤ n·series·partitions rows — the
    same protection the earlier salted two-phase variant bought with an
    extra shuffle (measured ~30% slower than this plan at sf0.1 once
    WindowGroupLimit landed).
    """
    return _read_topk(df, ids, n, descending=True)


def read_first(df: DataFrame, ids: Sequence[str], n: int) -> DataFrame:
    """T3: oldest n rows per series (same strategy split as read_last)."""
    return _read_topk(df, ids, n, descending=False)


def _read_topk(df: DataFrame, ids: Sequence[str], n: int, descending: bool) -> DataFrame:
    sel = select_series(df, ids)
    if len(ids) == 1:
        # TakeOrderedAndProject — limit pushes into the sort, no window.
        return sel.orderBy(*_order_cols(sel, descending)).limit(int(n))
    # Single-file inputs arrive as ONE scan partition (a parquet row
    # group is unsplittable), which serializes the pre-WindowGroupLimit
    # sort onto one core. _spread round-robins mid-sized inputs across
    # the cluster first (measured 1.38 → 1.17 s on the 600k-row
    # lineitem mapping at local[32]); it is stats-gated BOTH ways — a
    # no-op above 512 MB (real scale: scans already have many row
    # groups, adding a shuffle would be wrong) and below 4 MB (the
    # exchange outweighs the parallelism; measured +0.2 s on the 2 MB
    # events mapping). Guide §2.5: "input skew: one huge unsplittable
    # file ... repartition immediately after the read".
    from zestdb_spark.functions.dedup import _spread

    sel = _spread(sel, min_bytes=4 * 1024 * 1024)
    w = Window.partitionBy("series_id").orderBy(*_order_cols(sel, descending))
    return (
        sel.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= int(n))
        .drop("__rn")
    )


def read_latest(df: DataFrame, ids: Sequence[str]) -> DataFrame:
    """T4: per-series last/1 (reference: read_latest = read_last n=1)."""
    return read_last(df, ids, 1)


def read_earliest(df: DataFrame, ids: Sequence[str]) -> DataFrame:
    """T5: per-series first/1."""
    return read_first(df, ids, 1)


def ts_length(df: DataFrame, ids: Sequence[str]) -> DataFrame:
    """A8: row count over the selected series → 1-row frame
    ``{length: LONG}`` (serializer renders ``{"length": n}``,
    reference timeseries.re:310-346)."""
    return select_series(df, ids).agg(F.count(F.lit(1)).alias("length"))


def sort_result(df: DataFrame, descending: bool) -> DataFrame:
    """T1: final presentation order (timeseries.re:168-175). Row order is
    irrelevant for hash-compared correctness (driver compare is
    order-insensitive) but the API edge sorts for reference parity."""
    return df.orderBy(*_order_cols(df, descending))
