"""Streaming append feed over the snapshot-manifest log.

The reference's data observers are live per-POST notifications
(src/server.re:778-793): every payload written while observing reaches
the subscriber, and maintenance (delete rewrites, shard merges) never
re-notifies. The engine's directory-watching observer stream
(streaming/observe.py) reproduces that, but a FILE listing is a weak
offset — it cannot replay from a point in time, and it trusts mtimes.
The manifest log (zestdb_spark/snapshots.py) gives the exact primitive
a streaming source wants: a totally-ordered, replayable commit
sequence. This Spark 4 Python streaming data source
(``pyspark.sql.datasource.DataSourceStreamReader``) turns it into a
Structured Streaming offset:

- **offset** = manifest version: JSON ``{"version": N}``, checkpointed
  by Spark, so a restarted query resumes EXACTLY-ONCE from the last
  committed table version — no file-listing state, no mtime trust.
- **batch planning** walks the per-version manifest diffs from
  ``start`` to ``end`` and keeps files Spark's appends wrote
  (``part-*``): rewrite re-materializations (delete survivors,
  compactions, restores) are staged as ``rw-*`` (storage.py
  ``_stage_move``) and never enter the feed — append purity at the
  offset level, not post-hoc dedup.
- **reading** is one Arrow task per appended file — embarrassingly
  parallel, scan-local, no shuffle; rows carry the canonical columns
  (series_id decoded from the partition path).

A stream started at version -1 (the default) first replays the CURRENT
table content (all live files, survivors included), then follows new
append commits — the same catch-up a new reference observer gets from
a full read plus its subscription. ``maxVersionsPerBatch`` bounds how
many table versions one micro-batch may span (maxFilesPerTrigger's
role; bounded batches converge because the engine keeps triggering
until offsets stop advancing); unset, each batch spans everything
committed since the last. Pass
``startingVersion`` = latest committed version to follow only new
writes. If a lagging stream's next manifests were pruned by vacuum the
source fails loudly with the missing version rather than silently
skipping commits.

Usage::

    from zestdb_spark.sources import register
    register(spark)
    q = (spark.readStream.format("zest_changes")
         .option("root", store_root)            # .../ts_numeric dir
         .load()
         .writeStream...)
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from zestdb_spark import snapshots
from zestdb_spark.sources.tail_source import _LAYOUTS


class _AppendedFile(InputPartition):
    def __init__(
        self, path: str, series_id: str, cols: tuple, meta_json=None, mapping=None
    ):
        self.path = path
        self.series_id = series_id
        self.cols = cols
        #: generic tables: the table's Spark schema (JSON dict) rides
        #: into the task so the arrow cast needs no driver round trip
        self.meta_json = meta_json
        #: logical -> PHYSICAL column names (storage column mapping):
        #: files always carry physical names; physical names are
        #: immutable, so the mapping pinned at stream start stays
        #: valid for every file the stream will ever read
        self.mapping = mapping or {}


def _is_append(rel: str) -> bool:
    return os.path.basename(rel).startswith("part-")


def _generic_meta(root: str):
    """A generic manifested table is self-describing: its dir carries
    _zest_meta.json (storage.create_table) — the change feed reads the
    schema from there, so the SAME source streams reference-shaped TS
    tables AND arbitrary corpus tables."""
    import json

    path = os.path.join(root, "_zest_meta.json")
    if not os.path.isfile(path):
        return None
    try:
        meta = json.load(open(path))
        return meta["schema"], dict(meta.get("column_mapping", {}))
    except (OSError, ValueError, KeyError) as e:
        # present-but-unreadable must be LOUD: silently falling back to
        # the ts_numeric layout would read generic parquet with the
        # wrong columns and fail opaquely per task (or half-work)
        raise ValueError(
            f"zest_changes: {path} exists but is unreadable ({e!r}) — "
            "the table's meta is corrupt; repair it before streaming"
        ) from e


class ZestChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options, pinned_schema=None):
        self.root = options["root"]
        meta = _generic_meta(self.root)
        self.meta_json = None if meta is None else meta[0]
        #: the mapping is pinned at reader construction like the
        #: schema: a rename mid-stream changes only LOGICAL names —
        #: the physical names this mapping resolves to are immutable,
        #: so every future file still reads correctly (a restart picks
        #: up the new logical names, same posture as added columns)
        self.mapping = {} if meta is None else meta[1]
        if self.meta_json is not None:
            self.table = "generic"
            if pinned_schema is not None:
                # the STREAM's schema is what Spark planned against at
                # start — after an additive schema evolution the meta
                # file grows, but a RUNNING stream must keep producing
                # exactly its planned columns (restart the query to
                # pick up new ones, the standard posture); re-reading
                # the meta here would make this reader's batches drift
                # from the pinned plan mid-stream.
                #
                # Each pinned field carries its PHYSICAL name in its
                # metadata (stamped by schema() at plan time), so the
                # stream resolves itself — correct across any later
                # rename or drop. Fallback for pinned schemas without
                # the stamp (pre-stamp checkpoints): unstamped
                # checkpoints predate column mapping entirely, so the
                # pinned logical name IS the physical name — identity
                # holds for every such table, including ones later
                # renamed or dropped. Resolution must be identity
                # UNCONDITIONALLY: consulting the current meta by name
                # would, after a drop+rename onto the pinned name
                # (drop `score`, rename `host`→`score`), resolve the
                # pinned `score` to host's physical slot and emit
                # another column's data.
                self.mapping = {}
                for f in pinned_schema.fields:
                    md = f.metadata or {}
                    if "zest_physical" in md:
                        self.mapping[f.name] = md["zest_physical"]
                        continue
                    self.mapping[f.name] = f.name
                self.meta_json = pinned_schema.jsonValue()
            self.cols = tuple(f["name"] for f in self.meta_json["fields"])
        else:
            self.table = options.get("table", "ts_numeric")
            if self.table not in _LAYOUTS:
                raise ValueError(f"table must be one of {sorted(_LAYOUTS)}")
            self.cols = _LAYOUTS[self.table][0]
        self.starting = int(options.get("startingVersion", -1))
        #: admission control: cap how many table versions one
        #: micro-batch may span (maxFilesPerTrigger's role). Bounded
        #: batches still converge — the engine keeps triggering until
        #: offsets stop advancing, and a capped catch-up just replays
        #: full content AS OF the capped version, then walks diffs.
        #: Best-effort across restarts: the cursor restarts at
        #: startingVersion and is re-learned from the first
        #: partitions() call, so only the very first post-restart
        #: batch can exceed the cap.
        mv = options.get("maxVersionsPerBatch")
        self.max_versions = int(mv) if mv is not None else None
        self._cursor: "int | None" = self.starting

    # ------------------------------------------------------- offsets

    def initialOffset(self) -> dict:
        return {"version": self.starting}

    def latestOffset(self) -> dict:
        # a table not written yet (version -1), or still behind the
        # starting version, holds at the start
        head = max(snapshots.latest(self.root).version, self.starting)
        if self.max_versions is not None and self._cursor is not None:
            head = min(head, self._cursor + self.max_versions)
        return {"version": head}

    def commit(self, end: dict) -> None:
        pass  # data files are the store's; Spark checkpoints the offset

    # ------------------------------------------------------ planning

    def _appended_between(self, s: int, e: int) -> list[str]:
        """Relpaths of the files the batch (s, e] delivers. s == -1 is
        the initial catch-up: ALL live files of version e — the full
        current table content, rewrite-survivor files included, exactly
        the "full read plus subscription" a new reference observer
        performs (and it needs no historical manifests). Afterwards
        each consecutive manifest pair is diffed keeping only append
        (``part-*``) adds, so an append that a later in-window delete
        already removed is still delivered — a live observer would have
        seen it — while rewrites stay silent.

        RESTORE commits are excluded by their manifest ``op``: a
        restore re-references ORIGINAL ``part-*`` files (it re-links
        nothing, so the rw-* staging convention cannot mark them), and
        every one of those rows was already delivered when first
        appended — re-delivering them would break the feed's
        append-purity contract. The restored file set still updates
        the diff base, so later genuine appends diff correctly."""
        end_snap = snapshots.read_version(self.root, e)
        if end_snap is None:
            raise RuntimeError(
                f"zest_changes: manifest version {e} of {self.root} is "
                "unreadable (pruned by vacuum?) — restart the stream"
            )
        if s < 0:
            return list(end_snap.files)
        out: list[str] = []
        prev = snapshots.read_version(self.root, s)
        if prev is None:
            raise RuntimeError(
                f"zest_changes: the stream's next offset (version {s}) was "
                f"pruned by vacuum under {self.root}; the feed cannot prove "
                "it saw every commit — restart from a fresh checkpoint"
            )
        prev_files = set(prev.files)
        for v in range(s + 1, e + 1):
            snap = snapshots.read_version(self.root, v)
            if snap is None:
                raise RuntimeError(
                    f"zest_changes: manifest version {v} of {self.root} was "
                    "pruned by vacuum mid-stream — restart from a fresh "
                    "checkpoint"
                )
            if snap.op != "restore":
                out.extend(
                    f for f in snap.files if f not in prev_files and _is_append(f)
                )
            prev_files = set(snap.files)
        return out

    def partitions(self, start: dict, end: dict):
        s, e = int(start["version"]), int(end["version"])
        self._cursor = e  # the next latestOffset() paces from here
        if e <= s:
            return []
        return [
            _AppendedFile(
                os.path.join(self.root, rel),
                snapshots.rel_parts(rel).get("series_id", ""),
                self.cols,
                self.meta_json,
                self.mapping,
            )
            for rel in self._appended_between(s, e)
        ]

    # ------------------------------------------------------- reading

    def read(self, partition: _AppendedFile):
        if partition is None:  # empty batch → one None-partition call
            return iter(())
        import pyarrow as pa
        import pyarrow.parquet as pq

        if partition.meta_json is not None:
            from pyspark.sql.types import StructType

            from zestdb_spark.storage import _spark_to_arrow_type

            st = StructType.fromJson(partition.meta_json)
            canonical = pa.schema(
                [pa.field(f.name, _spark_to_arrow_type(f.dataType)) for f in st.fields]
            )
            # schema evolution tolerance: a pre-evolution file lacks
            # the evolved columns — read what it has, null-fill the
            # rest (the same NULL-for-new-columns contract the batch
            # scan gives), and keep the canonical column order. Files
            # carry PHYSICAL column names (immutable under renames):
            # read by physical, emit under the stream's logical names.
            mapping = partition.mapping
            have = set(pq.ParquetFile(partition.path).schema_arrow.names)
            phys_cols = [
                (c, mapping.get(c, c))
                for c in partition.cols
                if mapping.get(c, c) in have
            ]
            table = pq.read_table(
                partition.path, columns=[p for _, p in phys_cols]
            )
            table = table.rename_columns(
                [
                    next(lg for lg, p in phys_cols if p == name)
                    for name in table.column_names
                ]
            )
            for field in canonical:
                if field.name not in table.column_names:
                    table = table.append_column(
                        field.name, pa.nulls(table.num_rows, field.type)
                    )
            table = table.select([f.name for f in canonical])
            return iter(table.cast(canonical).to_batches())

        _types = {
            "timestamp": pa.int64(),
            "value": pa.float64(),
            "tag_name": pa.string(),
            "tag_value": pa.string(),
            "data": pa.string(),
        }
        canonical = pa.schema([pa.field(c, _types[c]) for c in partition.cols])
        table = pq.read_table(partition.path, columns=list(partition.cols))
        table = table.cast(canonical)
        table = table.add_column(
            0, "series_id", pa.array([partition.series_id] * table.num_rows)
        )
        return iter(table.to_batches())


class ZestChangesDataSource(DataSource):
    """``spark.readStream.format("zest_changes")`` — see module
    docstring."""

    @classmethod
    def name(cls) -> str:
        return "zest_changes"

    def schema(self):
        meta = _generic_meta(self.options["root"])
        if meta is not None:
            from pyspark.sql.types import StructField, StructType

            st = StructType.fromJson(meta[0])
            mapping = meta[1]
            # stamp each field's PHYSICAL name into its metadata: the
            # stream's pinned schema then carries its own resolution,
            # so a checkpoint restart survives any later rename OR
            # drop (positional matching breaks under drops)
            return StructType(
                [
                    StructField(
                        f.name,
                        f.dataType,
                        f.nullable,
                        {**(f.metadata or {}),
                         "zest_physical": mapping.get(f.name, f.name)},
                    )
                    for f in st.fields
                ]
            )
        table = self.options.get("table", "ts_numeric")
        if table not in _LAYOUTS:
            raise ValueError(
                f"zest_changes: table must be one of {sorted(_LAYOUTS)}, "
                f"got {table!r}"
            )
        return _LAYOUTS[table][1]

    def streamReader(self, schema) -> ZestChangesStreamReader:
        return ZestChangesStreamReader(self.options, pinned_schema=schema)
