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

- **planning**: one :class:`InputPartition` per requested series — the
  series_id= dirs are pruned by listing, and Spark schedules each
  series tail as an independent task (embarrassingly parallel across
  series, like everything else in the engine). On a manifested store
  each partition holds only the files whose manifest stats can hold
  the series' top n (``snapshots.tail_files`` — the same decision the
  engine's canonical scan makes for its ``tail`` hint).
- **reading**: parquet FOOTERS first. Row groups across the series'
  files are ordered by their max(timestamp) statistic, newest first,
  and read one at a time until the accumulated rows provably contain
  the top n — i.e. until ``count ≥ n`` and the next row group's
  max-stat falls strictly below the running n-th-largest timestamp
  (``<`` not ``≤``, so timestamp ties are still collected and the
  total-order tie-break stays exact). Everything older is never
  decompressed, never even read beyond its footer.
- **returning**: Arrow RecordBatches (zero-copy into Spark's vectorized
  pipeline), already trimmed to the per-series top n under the same
  total order as operators/ts_read.py (timestamp DESC, value DESC,
  tag_name DESC, tag_value DESC), so downstream needs no re-window.

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
from urllib.parse import unquote

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: per-table layouts: (data columns, DDL schema). Order columns — the
#: total order shared with operators/ts_read.py (timestamp first, then
#: every remaining column) — make the returned row SET unique on ties.
_LAYOUTS = {
    "ts_numeric": (
        ("timestamp", "value", "tag_name", "tag_value"),
        "series_id string, timestamp long, value double, "
        "tag_name string, tag_value string",
    ),
    "ts_blob": (
        ("timestamp", "data"),
        "series_id string, timestamp long, data string",
    ),
}


class _SeriesTail(InputPartition):
    def __init__(self, series_id: str, files: list[str], n: int, mode: str, cols: tuple):
        self.series_id = series_id
        self.files = files
        self.n = n
        self.mode = mode  # 'last' (newest n) or 'first' (oldest n)
        self.cols = cols  # data columns of the table layout


def _series_dirs(root: str) -> dict[str, str]:
    out = {}
    for name in sorted(os.listdir(root)):
        full = os.path.join(root, name)
        if name.startswith("series_id=") and os.path.isdir(full):
            out[unquote(name[len("series_id="):])] = full
    return out


def _parquet_files(series_dir: str) -> list[str]:
    files = []
    for dirpath, _dirs, names in os.walk(series_dir):
        for f in sorted(names):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                files.append(os.path.join(dirpath, f))
    return files


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
        # snapshot-manifest stores (the normal case): plan the
        # manifest's live files — a dir walk would resurrect tombstoned
        # files a delete already committed away — narrowed to those
        # whose stats can hold the series' top n, the same decision
        # the engine's scan makes (snapshots.tail_files), so the
        # footer pass below opens only candidate files. The legacy
        # walk remains only for pre-manifest layouts.
        from zestdb_spark import snapshots

        snap = snapshots.latest(self.root)
        if snap is not None:
            by_series: dict[str, list[str]] = {}
            for rel in snap.files:
                head, _, _ = rel.partition("/")
                if head.startswith("series_id="):
                    by_series.setdefault(unquote(head[len("series_id="):]), []).append(rel)
            wanted = self.series if self.series is not None else sorted(by_series)

            def candidates(s: str) -> list[str]:
                rels, _ = snapshots.tail_files(by_series[s], snap.stats, self.mode, self.n)
                return [os.path.join(self.root, rel) for rel in rels]

            return [
                _SeriesTail(s, candidates(s), self.n, self.mode, cols)
                for s in wanted
                if s in by_series
            ]
        dirs = _series_dirs(self.root)
        wanted = self.series if self.series is not None else sorted(dirs)
        # missing series plan to zero partitions — empty result, like the
        # reference's empty-shard read (not an error)
        return [
            _SeriesTail(s, _parquet_files(dirs[s]), self.n, self.mode, cols)
            for s in wanted
            if s in dirs
        ]

    def read(self, partition: _SeriesTail):
        if partition is None:  # empty partitions() → one None-partition call
            return iter(())
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        newest = partition.mode == "last"
        order = "descending" if newest else "ascending"
        nulls = "at_end" if newest else "at_start"

        # canonical (nullable) arrow schema for the data columns: files
        # written by different jobs may disagree on NULLABILITY alone
        # (a rewrite's survivor files come out non-null after a filter),
        # and concat_tables is strict about it — cast unifies
        _types = {
            "timestamp": pa.int64(),
            "value": pa.float64(),
            "tag_name": pa.string(),
            "tag_value": pa.string(),
            "data": pa.string(),
        }
        canonical = pa.schema([pa.field(c, _types[c]) for c in partition.cols])

        # footer pass: (boundary stat, file, row-group index) in read
        # order — newest-max first for 'last', oldest-min first for
        # 'first'. Footers are KB-sized reads; no data pages yet. One
        # handle per file, shared with the data pass below and closed
        # on exit — reopening per pass doubled footer I/O and leaked
        # descriptors to GC on long-lived executors.
        open_files: dict[str, pq.ParquetFile] = {
            path: pq.ParquetFile(path) for path in partition.files
        }
        groups: list[tuple[int | None, str, int]] = []
        for path in partition.files:
            md = open_files[path].metadata
            ts_idx = md.schema.names.index("timestamp")
            for g in range(md.num_row_groups):
                stats = md.row_group(g).column(ts_idx).statistics
                # stats can be absent on exotic writers — treat as
                # always-read rather than silently skipping data
                if stats is not None and stats.has_min_max:
                    bound = stats.max if newest else stats.min
                else:
                    bound = None
                groups.append((bound, path, g))
        # groups WITHOUT stats sort FIRST in both modes: they must be
        # read unconditionally (their contents are unknown), and the
        # early-exit break only fires on groups read after the cutoff
        # is established — sorting them last would let the break skip
        # them entirely
        if newest:
            groups.sort(key=lambda t: (t[0] is not None, -t[0] if t[0] is not None else 0))
        else:
            groups.sort(key=lambda t: (t[0] is not None, t[0] if t[0] is not None else 0))

        def past_cutoff(bound: int | None, cutoff: int) -> bool:
            """True when a group provably holds no top-n row (strict —
            equality means possible timestamp ties, which the total-order
            tie-break still needs to see)."""
            if bound is None:
                return False
            return bound < cutoff if newest else bound > cutoff

        batches: list[pa.Table] = []
        count = 0
        cutoff = None  # running n-th best timestamp
        try:
            for bound, path, g in groups:
                if count >= partition.n and cutoff is not None and past_cutoff(bound, cutoff):
                    break
                t = open_files[path].read_row_group(g, columns=list(partition.cols))
                batches.append(t.cast(canonical))
                count += t.num_rows
                if count >= partition.n:
                    all_ts = pa.concat_tables(batches)["timestamp"]
                    topn = pc.sort_indices(all_ts, sort_keys=[("", order)])[: partition.n]
                    cutoff = pc.take(all_ts.combine_chunks(), topn)[-1].as_py()
        finally:
            for f in open_files.values():
                f.close()

        if not batches:
            return iter(())
        table = pa.concat_tables(batches)
        idx = pc.sort_indices(
            table,
            sort_keys=[(c, order) for c in partition.cols],
            null_placement=nulls,
        )[: partition.n]
        table = table.take(idx)
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
