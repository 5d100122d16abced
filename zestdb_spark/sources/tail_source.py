"""Per-series limit-pushdown source over the ZestStore layout.

The reference answers ``last/n`` from an in-memory tail buffer plus a
walk of at most the newest shards (src/timeseries/timeseries.re:250-283
folds shards newest-first and stops at n). The native parquet reader
has no equivalent: a ``last/n`` over a huge series scans every file of
the series before the window-function top-k throws 99.99% of it away.
Partition pruning removes other SERIES, but nothing prunes the TIME
axis, because "newest n rows" isn't a static predicate.

This PySpark Python Data Source (Spark 4 ``pyspark.sql.datasource``)
restores the reference's access pattern at cluster scale:

- **planning**: one :class:`InputPartition` per requested series that
  the table's manifest names, and Spark schedules each series tail as
  an independent task (embarrassingly parallel across series, like
  everything else in the engine). Each partition holds only the
  series' live files whose manifest stats can hold its top n
  (``snapshots.tail_files`` — the same decision the engine's
  canonical scan makes for its ``tail`` hint). A table with no log
  plans no partitions.
- **reading**: parquet FOOTERS first. Row groups across the series'
  files are ordered by their max(timestamp) statistic, newest first,
  and read one at a time until the accumulated rows provably contain
  the top n — i.e. until ``count ≥ n`` and the next row group's
  max-stat falls strictly below the running n-th-largest timestamp
  (``<`` not ``≤``, so timestamp ties are still collected and the
  total-order tie-break stays exact). Everything older is never
  decompressed, never even read beyond its footer. The reader is
  ``plans.driver.read_tail``, the one the engine's driver-side GETs
  use.
- **returning**: Arrow RecordBatches (zero-copy into Spark's vectorized
  pipeline), already trimmed to the per-series top n under the total
  order of operators/ts_read.py ``_order_cols`` (``plans.driver.top_n``:
  NaN above every number, nulls last for "last", first for "first"),
  so downstream needs no re-window.

At 100 TB this turns "scan a year, keep 100 rows" into "read ~1 row
group per series" — I/O proportional to the ANSWER, not the table.

Usage::

    from zestdb_spark.sources import register
    register(spark)
    df = (spark.read.format("zest_tail")
          .option("root", store_root)            # .../ts_numeric dir
          .option("series", "click,view")
          .option("n", 100)
          .load())
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from zestdb_spark import schema as S

#: per-table layouts: (data columns, DDL schema), derived from the
#: canonical schemas (series_id first, then the data columns). Order
#: columns — the total order shared with operators/ts_read.py
#: (timestamp first, then every remaining column) — make the returned
#: row SET unique on ties.
_LAYOUTS = {
    table: (
        tuple(f.name for f in schema.fields[1:]),
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schema.fields),
    )
    for table, schema in (("ts_numeric", S.TS_NUMERIC), ("ts_blob", S.TS_BLOB))
}


class _SeriesTail(InputPartition):
    def __init__(self, series_id: str, files: list[str], n: int, mode: str, cols: tuple):
        self.series_id = series_id
        self.files = files
        self.n = n
        self.mode = mode  # 'last' (newest n) or 'first' (oldest n)
        self.cols = cols  # data columns of the table layout


class ZestTailReader(DataSourceReader):
    def __init__(self, options):
        self.root = options["root"]
        self.n = int(options.get("n", 100))
        self.mode = options.get("mode", "last")
        if self.mode not in ("last", "first"):
            raise ValueError(f"mode must be last|first, got {self.mode!r}")
        self.table = options.get("table", "ts_numeric")
        if self.table not in _LAYOUTS:
            raise ValueError(f"table must be one of {sorted(_LAYOUTS)}")
        series_opt = options.get("series")
        # dedupe, preserving order — /ts/a,a/latest must not double rows
        # (canonical select_series is an IN predicate, same semantics)
        self.series = list(dict.fromkeys(series_opt.split(","))) if series_opt else None

    def partitions(self):
        cols = _LAYOUTS[self.table][0]
        # plan the manifest's live files — a dir walk would resurrect
        # tombstoned files a delete already committed away, and files
        # a failed append staged — narrowed to those whose stats can
        # hold the series' top n, the same decision the engine's scan
        # makes (snapshots.tail_files), so the footer pass below opens
        # only candidate files
        from zestdb_spark import snapshots

        snap = snapshots.latest(self.root)
        by_series: dict[str, list[str]] = {}
        for rel in snap.files:
            sid = snapshots.rel_parts(rel).get("series_id")
            if sid is not None:
                by_series.setdefault(sid, []).append(rel)
        wanted = self.series if self.series is not None else sorted(by_series)

        def candidates(s: str) -> list[str]:
            rels, _ = snapshots.tail_files(by_series[s], snap.stats, self.mode, self.n)
            return [os.path.join(self.root, rel) for rel in rels]

        # missing series plan to zero partitions — empty result, like the
        # reference's empty-shard read (not an error)
        return [
            _SeriesTail(s, candidates(s), self.n, self.mode, cols)
            for s in wanted
            if s in by_series
        ]

    def read(self, partition: _SeriesTail):
        if partition is None:  # empty partitions() → one None-partition call
            return iter(())
        import pyarrow as pa

        from zestdb_spark.plans.driver import read_tail, top_n

        table = top_n(
            read_tail(partition.files, partition.cols, partition.n, partition.mode),
            partition.n,
            partition.mode == "last",
        )
        if table.num_rows == 0:
            return iter(())
        table = table.add_column(
            0, "series_id", pa.array([partition.series_id] * table.num_rows)
        )
        return iter(table.to_batches())


class ZestTailDataSource(DataSource):
    """``spark.read.format("zest_tail")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "zest_tail"

    def schema(self) -> str:
        table = self.options.get("table", "ts_numeric")
        if table not in _LAYOUTS:
            # Spark resolves schema() before reader(), so the friendly
            # message must live here too — not just in ZestTailReader
            raise ValueError(
                f"zest_tail: table must be one of {sorted(_LAYOUTS)}, got {table!r}"
            )
        return _LAYOUTS[table][1]

    def reader(self, schema) -> ZestTailReader:
        return ZestTailReader(self.options)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(ZestTailDataSource)
