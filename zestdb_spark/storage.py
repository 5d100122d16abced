"""Table-backed store: the engine's durable tables as partitioned parquet.

Replaces the reference's git/Irmin shard store (src/timeseries/shard.re,
index.re) with the Spark-native equivalent (SURVEY.md §4): parquet files
partitioned by ``series_id`` and a derived daily ``time_bucket``, so
- series selection is partition pruning (the reference's per-series
  directories),
- since/range reads prune whole day-buckets via the partition column
  and skip row groups via parquet min/max stats (the reference's
  interval-index walk, timeseries.re:197-231),
- compaction is file-level (OPTIMIZE-style rewrite) instead of the
  reference's overlap-merge (timeseries.re:64-111).

Would be Delta/Iceberg on a real cluster (ACID appends, MERGE,
DELETE); the jars aren't in this image, so the store carries its own
single-node table format: every write stages parquet files into the
table tree (invisible), then publishes an atomic snapshot manifest
(zestdb_spark/snapshots.py — the Delta-log recipe, full-listing
variant). Readers resolve one manifest and see a CONSISTENT
cross-partition snapshot; rewrites tombstone replaced files instead
of deleting them, so overlapping readers keep their pinned file set
(``vacuum`` reclaims past a retention window). A table is exactly
its manifest: one with no log reads empty, and no path adopts files
no manifest names, so a write that fails before its commit — the
table's first included — never reaches a table read. The API is
format-agnostic — swap the stage/commit seam for table-format calls
without touching callers.

Every row-level rewrite (``merge_table``, ``merge_rows``,
``delete_table_rows``, ``ts_delete``) goes through ``_rewrite_hits``:
prune, find the hit files, stage their survivors plus any inserts, one
commit. Every driver-side (pyarrow) file write goes through
``_write_local``, and the single-row MERGE fast paths (KV namespaces,
catalog) share ``_local_fold_rewrite``; the distributed KV namespace
swaps share ``_replace_namespaces``. Every parquet scan of a file list
is ``_read_files``, and ``_zest_meta.json`` is written only by
``_publish_meta`` and parsed only by ``_read_meta``. Whole-set rewrites
(compaction, OPTIMIZE) are ``_stage_move`` plus ``_commit`` directly.

Ingest validation enforces the reference's numeric-TS schema
(src/numeric_timeseries.re:5-13): exactly ``{"value": <number>}`` plus
at most one string tag → BadRequest (CoAP 128) otherwise
(src/server.re:656-669).
"""

from __future__ import annotations

import contextlib
import json
import math
import numbers
import os
import shutil
import time
import uuid
from typing import Any, Optional
from urllib.parse import unquote, urlparse

from pyspark.errors import SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zestdb_spark import coordination
from zestdb_spark import schema as S
from zestdb_spark import snapshots
from zestdb_spark.errors import BadRequest, StoreBusy

#: ms per day — time_bucket = timestamp div this (daily partitions)
_DAY_MS = 86_400_000

#: the bulk TS append's rejection of rows with no partition key
_BAD_TS_KEY = "ts append: series_id must be non-empty and timestamp non-null"


def _guard_ts_key(field):
    """``field`` cast to its canonical type; for the partition keys
    (series_id, timestamp), a row with no faithful key value raises
    ``_BAD_TS_KEY`` inside the same projection."""
    col = F.col(field.name).cast(field.dataType)
    if field.name == "series_id":
        bad = col.isNull() | (col == "")
    elif field.name == "timestamp":
        bad = col.isNull()
    else:
        return col
    return F.when(bad, F.raise_error(F.lit(_BAD_TS_KEY))).otherwise(col).alias(field.name)


def _type_widens(old, new) -> bool:
    """Is ``old -> new`` a LOSSLESS type widening the parquet reader
    performs natively (Delta/Iceberg's type-widening lattice, verified
    against Spark 4.1's vectorized reader)? Allowed: the integral
    chain byte < short < int < long, float -> double, and
    byte/short/int -> double (every int32 is exact in a double).
    Deliberately refused: long -> double (lossy above 2^53),
    anything -> float, and every non-numeric change."""
    from pyspark.sql import types as T

    rank = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}
    ro, rn = rank.get(type(old)), rank.get(type(new))
    if ro is not None and rn is not None:
        return ro < rn
    if isinstance(new, T.DoubleType):
        return isinstance(old, (T.ByteType, T.ShortType, T.IntegerType, T.FloatType))
    return False


def _type_has_map(dt) -> bool:
    """Does ``dt`` contain a MapType anywhere (top-level or nested in
    a struct/array)? Spark forbids set operations — distinct, groupBy
    keys, join keys — on such columns (maps have no equality), so the
    DML paths that dedupe must detect them and fall back to a
    serialized-row comparison."""
    from pyspark.sql import types as T

    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _type_has_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_type_has_map(f.dataType) for f in dt.fields)
    return False

#: the built-in tables. Every table — these and every ``create_table``
#: table — is exactly its snapshot manifest (snapshots.py): the data
#: tables need it for cross-partition rewrite atomicity, and the two
#: append-only logs (audit, write_log) so a crashed append never leaves
#: a torn half-visible batch (their appends are lock-free CAS merges
#: like any other append). The audit observer stream
#: (streaming/observe.py) still watches the DIRECTORY: data files land
#: in place, and the log lives under the _-prefixed dir Spark's file
#: index treats as hidden.
_TABLES = {
    "ts_numeric": S.TS_NUMERIC,
    "ts_blob": S.TS_BLOB,
    "kv_json": S.KV_JSON,
    "kv_text": S.KV_TEXT,
    "kv_binary": S.KV_BINARY,
    "catalog_items": S.CATALOG_ITEMS,
    "audit": S.AUDIT,
    "write_log": S.WRITE_LOG,
}

#: tables whose stored rows carry a hidden ``write_id`` provenance stamp
#: (pruned from canonical ``load()``; see ``load_with_provenance``)
_STAMPED = ("ts_numeric", "ts_blob")

#: columns whose per-file min/max are recorded in the manifest at
#: commit time (Delta/Iceberg file statistics). ``timestamp`` is the
#: query dimension of every since/range read; ``value`` is free to
#: collect and lets a future numeric predicate skip too. Collection
#: reads the parquet FOOTER the writer already produced — no data
#: scan — so it is O(files touched) per commit; on a cluster the same
#: numbers would be gathered by the write tasks themselves.
_STATS_COLS = {
    "ts_numeric": ("timestamp", "value"),
    "ts_blob": ("timestamp",),
}


def now_ms() -> int:
    return int(time.time() * 1000)


#: exactly Hive's ``escapePathName`` set (ground-truthed against this
#: Spark build's partitioned writes, round 9): control chars, DEL, and
#: these — note ``{`` is escaped but ``}`` is NOT, and space/unicode
#: pass through. The driver-side append fast path must produce the
#: byte-identical directory name Spark would, or one series would
#: split across two physical partitions.
_PART_ESCAPE = set('"#%\'*/:=?\\^[]{')


def _escape_part(value: str) -> str:
    return "".join(
        f"%{ord(ch):02X}" if (ch in _PART_ESCAPE or ord(ch) < 32 or ord(ch) == 127)
        else ch
        for ch in value
    )


_ARROW_LOG_CACHE: "dict[str, Any]" = {}


def _empty_df(spark: SparkSession, schema) -> DataFrame:
    """Empty frame with ``schema`` backed by a ZERO-partition JVM RDD.
    ``createDataFrame([], schema)`` builds a python-RDD with
    defaultParallelism (32) EMPTY partitions — any downstream
    ``coalesce``/``toLocalIterator`` then pays one python-worker round
    trip per partition (~6 s measured for literally nothing). The
    emptyRDD form evaluates in zero tasks."""
    return spark.createDataFrame(spark.sparkContext.emptyRDD(), schema)


def _arrow_kv_local_schema(table: str):
    """pyarrow schema for a KV table's data columns (key, value — the
    ``id`` partition column lives in the dir name), for the namespace
    fast path."""
    key = f"__kv_local__{table}"
    if key not in _ARROW_LOG_CACHE:
        import pyarrow as pa

        base = _arrow_log_schema(table)
        assert base.field(0).name == "id"
        _ARROW_LOG_CACHE[key] = pa.schema(
            [base.field(i) for i in range(1, len(base))]
        )
    return _ARROW_LOG_CACHE[key]


def _arrow_ts_local_schema(table: str):
    """pyarrow schema for a TS table's DATA columns (canonical schema
    minus the two partition columns' leading ``series_id``; the
    ``time_bucket`` partition never appears in files) plus the
    ``write_id`` stamp — the file layout a Spark partitioned write of
    the stamped frame produces (see _append_ts)."""
    key = f"__ts_local__{table}"
    if key not in _ARROW_LOG_CACHE:
        import pyarrow as pa

        base = _arrow_log_schema(table)  # full canonical mapping
        fields = [base.field(i) for i in range(1, len(base))]
        fields.append(pa.field("write_id", pa.int64(), False))
        _ARROW_LOG_CACHE[key] = pa.schema(fields)
    return _ARROW_LOG_CACHE[key]


def _spark_to_arrow_type(dt):
    """Spark DataType → pyarrow type, recursively (arrays/structs) —
    the same physical mapping Spark's parquet writer uses, so
    driver-written files are interchangeable with Spark-written
    ones."""
    import pyarrow as pa

    name = dt.typeName()
    if name == "array":
        return pa.list_(
            pa.field("element", _spark_to_arrow_type(dt.elementType), dt.containsNull)
        )
    if name == "struct":
        return pa.struct(
            [
                pa.field(f.name, _spark_to_arrow_type(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    simple = {
        "long": pa.int64(),
        "integer": pa.int32(),
        "string": pa.string(),
        "double": pa.float64(),
        "boolean": pa.bool_(),
        "binary": pa.binary(),
    }
    if name in simple:
        return simple[name]
    # generic tables carry arbitrary user schemas (float, date,
    # timestamp, decimal, map, ...): defer to Spark's own canonical
    # Spark↔Arrow mapping instead of failing on a hand-kept table
    from pyspark.sql.pandas.types import to_arrow_type

    return to_arrow_type(dt)


def _arrow_log_schema(table: str):
    """pyarrow schema mirroring ``_TABLES[table]`` for the driver-side
    fast paths (_append_log, _append_ts_local, _kv_local_rewrite,
    catalog). Derived from the Spark schema — one source of truth."""
    if table not in _ARROW_LOG_CACHE:
        import pyarrow as pa

        fields = [
            pa.field(f.name, _spark_to_arrow_type(f.dataType), f.nullable)
            for f in _TABLES[table].fields
        ]
        _ARROW_LOG_CACHE[table] = pa.schema(fields)
    return _ARROW_LOG_CACHE[table]


def _footer_stats(path: str, cols: tuple) -> "dict | None":
    """Per-file min/max/null-count/rows for ``cols`` read from the
    parquet FOOTER the writer already produced (no data scan). A column
    is dropped from ``min``/``max`` when any row group lacks usable
    min/max for it (missing stats, non-finite bounds, non-scalar
    types), and from ``nulls`` when any row group lacks a null count —
    pruning must stay conservative, and a dropped column just means
    "no claim".

    NaN: parquet-mr (Spark's writer) lets a NaN into a float column's
    bounds, so the non-finite check drops them. Other writers (pyarrow,
    which every driver-side append uses) record finite bounds AROUND a
    NaN, so a float column from a non-parquet-mr footer keeps its
    bounds only when the file holds exactly one non-null value there:
    then finite ``min == max`` is that value and proves there is no
    NaN. Returns None when the footer itself is unreadable."""
    import pyarrow.parquet as pq

    try:
        md = pq.ParquetFile(path).metadata
    except Exception:
        return None
    mins: dict = {}
    maxs: dict = {}
    nulls: dict = {}
    no_count: set = set()
    floats: set = set()
    usable = set(cols)
    for rg_i in range(md.num_row_groups):
        rg = md.row_group(rg_i)
        for c_i in range(rg.num_columns):
            col = rg.column(c_i)
            name = col.path_in_schema
            st = col.statistics
            if name in cols and name not in no_count:
                if st is not None and st.has_null_count:
                    nulls[name] = nulls.get(name, 0) + st.null_count
                else:
                    no_count.add(name)
                    nulls.pop(name, None)
            if name not in usable:
                continue
            if col.physical_type in ("FLOAT", "DOUBLE"):
                floats.add(name)
            lo = st.min if st is not None and st.has_min_max else None
            hi = st.max if st is not None and st.has_min_max else None
            bad = (
                lo is None
                or isinstance(lo, bool)
                or not isinstance(lo, (int, float))
                or (isinstance(lo, float) and not math.isfinite(lo))
                or (isinstance(hi, float) and not math.isfinite(hi))
            )
            if bad:
                usable.discard(name)
                mins.pop(name, None)
                maxs.pop(name, None)
                continue
            mins[name] = lo if name not in mins else min(mins[name], lo)
            maxs[name] = hi if name not in maxs else max(maxs[name], hi)
    if not (md.created_by or "").startswith("parquet-mr"):
        for name in floats & usable:
            if (
                name not in nulls
                or md.num_rows - nulls[name] != 1
                or mins.get(name) != maxs.get(name)
            ):
                usable.discard(name)
    out: dict = {"rows": md.num_rows}
    got = {k for k in usable if k in mins}
    if got:
        out["min"] = {k: mins[k] for k in sorted(got)}
        out["max"] = {k: maxs[k] for k in sorted(got)}
    if nulls:
        out["nulls"] = {k: nulls[k] for k in sorted(nulls)}
    return out


def _bucket_of(ms: int) -> int:
    """time_bucket of a timestamp — MUST mirror the write path's
    ``cast(timestamp / _DAY_MS as long)``, which truncates toward ZERO
    (Python ``//`` floors, disagreeing for pre-1970 timestamps: the
    write puts ts=-50 in bucket 0, floor division says -1)."""
    q = abs(int(ms)) // _DAY_MS
    return q if ms >= 0 else -q


def validate_numeric(payload: Any) -> tuple[float, Optional[str], Optional[str]]:
    """is_valid semantics (src/numeric_timeseries.re:5-13): a JSON dict
    that is exactly {"value": number} or {"value": number, tag: "str"}
    (either field order). Returns (value, tag_name, tag_value)."""
    if not isinstance(payload, dict) or "value" not in payload:
        raise BadRequest("numeric TS payload must be a dict with 'value'")
    value = payload["value"]
    if isinstance(value, bool) or not isinstance(value, numbers.Real):
        raise BadRequest("'value' must be a number")
    extras = {k: v for k, v in payload.items() if k != "value"}
    if not extras:
        return float(value), None, None
    if len(extras) > 1:
        raise BadRequest("numeric TS payload allows at most one tag")
    (tag_name, tag_value), = extras.items()
    if not isinstance(tag_value, str):
        raise BadRequest("tag value must be a string")
    return float(value), tag_name, tag_value


class ZestStore:
    """Parquet-backed engine tables under ``root``."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        #: request provenance (method, path, client, content_format) —
        #: set per-request by the engine facade, consumed by mutations
        self._ctx: Optional[tuple[str, str, str, Optional[str]]] = None
        self._write_seq: Optional[int] = None
        self._seq_lock = __import__("threading").Lock()
        self._server = __import__("socket").gethostname()
        #: reader cache: (table, manifest version, scan hints) → the
        #: constructed DataFrame. Building a reader re-lists every live
        #: file through py4j (O(files) — ~3.5 s at 300 uncompacted tiny
        #: files, measured round 9); a snapshot's file set is immutable
        #: so the frame is reusable until the next commit bumps the
        #: version out of the key. Safe under vacuum: live files are
        #: never deleted while their version is current.
        self._reader_cache: "dict[tuple, DataFrame]" = __import__(
            "collections"
        ).OrderedDict()
        self._reader_lock = __import__("threading").Lock()
        #: GENERIC manifested tables (create_table): name → {"schema":
        #: StructType, "stats_cols": tuple} — discovered from each
        #: table dir's _zest_meta.json so a reopened store sees every
        #: table a previous process created
        self._generic: "dict[str, dict]" = {}
        self._discover_generic()

    _READER_CACHE_MAX = 64

    #: driver budget of the control-plane fast paths: a KV namespace or
    #: catalog rewrite (``_local_fold_rewrite``) and a GET's read
    #: (``local_files``) run on the driver with pyarrow when the live
    #: bytes they touch total at most this; larger inputs take the
    #: Spark path (namespaces and serving reads are api-sized and
    #: usually KB; bulk-ingested giants keep Spark)
    _DRIVER_MAX_BYTES = 64 * 1024 * 1024

    def _path(self, table: str) -> str:
        return os.path.join(self.root, table)

    # ------------------------------------------- generic manifested tables

    def _read_meta(self, name: str) -> "dict | None":
        """Registry entry parsed from ``<name>/_zest_meta.json``; None
        when the dir has no meta or it is unreadable (the dir is then
        left untouched — not a generic table)."""
        from pyspark.sql import types as T

        try:
            with open(os.path.join(self.root, name, "_zest_meta.json")) as f:
                meta = json.load(f)
            return {
                "schema": T.StructType.fromJson(meta["schema"]),
                "stats_cols": tuple(meta.get("stats_cols", ())),
                "mapping": dict(meta.get("column_mapping", {})),
                "retired": tuple(meta.get("retired_physicals", ())),
            }
        except (OSError, ValueError, KeyError):
            return None

    def _discover_generic(self) -> None:
        try:
            names = os.listdir(self.root)
        except OSError:
            return
        for name in names:
            entry = None if name in _TABLES else self._read_meta(name)
            if entry is not None:
                self._generic[name] = entry

    def _publish_meta(self, name: str, entry: dict) -> None:
        """The one writer of ``<name>/_zest_meta.json``: serialize the
        registry ``entry`` (schema, stats_cols, optional mapping and
        retired physicals), publish it atomically (tmp + rename), then
        re-register the table from the file just written — so the
        in-memory entry is always what a fresh store would discover —
        and drop the cached readers (a metadata change bumps no
        manifest version, so readers keyed by version would go stale)."""
        meta = {
            "schema": entry["schema"].jsonValue(),
            "stats_cols": list(entry["stats_cols"]),
        }
        if entry.get("mapping"):
            meta["column_mapping"] = entry["mapping"]
        if entry.get("retired"):
            meta["retired_physicals"] = list(entry["retired"])
        path = os.path.join(self._path(name), "_zest_meta.json")
        tmp = f"{path}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, path)
        self._generic[name] = self._read_meta(name)
        with self._reader_lock:
            self._reader_cache.clear()

    @contextlib.contextmanager
    def _meta_update(self, name: str):
        """Locked read-modify-publish of a generic table's meta (the
        schema operations): under the rewrite lock, re-read the entry
        from disk (another process may have evolved it) and yield a
        copy; the caller REPLACES its values, and a changed entry is
        published on a clean exit. Raises KeyError for non-generic
        tables."""
        if self._generic_entry(name) is None:
            raise KeyError(f"{name!r} is not a generic manifested table")
        with self._rewrite_lock(name):
            fresh = self._read_meta(name)
            self._generic[name] = fresh
            entry = dict(fresh)
            yield entry
            if entry != fresh:
                self._publish_meta(name, entry)

    def _generic_entry(self, name: str) -> "dict | None":
        """Registry lookup with LAZY re-discovery: ``_discover_generic``
        runs at open, so a long-lived process (the server) would never
        see a generic table ANOTHER process created afterwards — its
        appends/merges would raise KeyError even though the table and
        its ``_zest_meta.json`` exist on disk (ADVICE r9). On a miss,
        re-probe the table dir before giving up; unreadable meta stays
        a miss (same contract as discovery)."""
        entry = self._generic.get(name)
        if entry is not None or name in _TABLES:
            return entry
        entry = self._read_meta(name)
        if entry is not None:
            self._generic[name] = entry
        return entry

    def _column_mapping(self, table: str) -> "dict[str, str] | None":
        """LOGICAL -> PHYSICAL column-name mapping for a generic table
        (Delta's column mapping: a rename changes only the logical
        name; the physical name in every parquet file is immutable).
        None when the table has no mapping or it is the identity —
        the fast path every table without renames stays on."""
        entry = self._generic.get(table)
        if entry is None:
            return None
        m = entry.get("mapping") or {}
        if not m or all(k == v for k, v in m.items()):
            return None
        return m

    def _phys(self, table: str, col: str) -> str:
        m = self._column_mapping(table)
        return m.get(col, col) if m else col

    def _is_manifested(self, table: str) -> bool:
        return table in _TABLES or self._generic_entry(table) is not None

    def _schema_of(self, table: str):
        base = _TABLES.get(table)
        if base is not None:
            return base
        entry = self._generic_entry(table)
        if entry is not None:
            return entry["schema"]
        raise KeyError(table)

    def create_table(
        self, name: str, df: DataFrame, stats_cols=()
    ) -> None:
        """Create a GENERIC manifested table from ``df`` — the engine's
        table format (atomic manifest commits, time travel, ``changes``
        feed, ``restore``, ``vacuum``, ``table_stats``, ``optimize_table``)
        opened up to arbitrary corpus DataFrames, not just the
        reference-shaped TS/KV/catalog tables. ``stats_cols`` opt
        columns into per-file min/max manifest stats (the file-skipping
        input for ``load(since_ms=...)``-style pruning and
        ``table_stats``). The schema and stats choice persist in the
        table dir (``_zest_meta.json``), so any later process that
        opens the store sees the table."""
        if not name or name != os.path.basename(name) or name.startswith((".", "_")):
            raise BadRequest(f"invalid table name {name!r}")
        reserved = {"zkey", "_zest_file"} & set(df.columns)
        if reserved:
            raise BadRequest(
                f"create_table({name!r}): column names {sorted(reserved)} are "
                "reserved by the DML working columns (z-order key, hit-file "
                "scan) — rename them"
            )
        bad_stats = [c for c in stats_cols if c not in df.columns]
        if bad_stats:
            raise BadRequest(
                f"create_table({name!r}): stats_cols {bad_stats} are not "
                f"columns of {sorted(df.columns)} — a typo here would "
                "silently disable stats pruning"
            )
        path = self._path(name)
        meta_path = os.path.join(path, "_zest_meta.json")
        # the whole existence-check → stage → meta → commit sequence runs
        # under the table's rewrite lock so two processes racing the same
        # create get one winner and one loud BadRequest, never a silent
        # union of both DataFrames (the cross-process posture every other
        # commit path already has)
        with self._rewrite_lock(name):
            if name in _TABLES or name in self._generic or os.path.isfile(meta_path):
                raise BadRequest(f"table {name!r} already exists")
            if os.path.isdir(path) and os.listdir(path):
                raise BadRequest(f"directory for {name!r} already has content")
            os.makedirs(path, exist_ok=True)
            # data FIRST: a failed Spark write leaves only reclaimable
            # stage litter, and retrying the create works; the meta file
            # (the table's existence marker) lands atomically only once
            # the data is staged into the tree
            adds = self._stage_move(name, df)
            self._publish_meta(
                name, {"schema": df.schema, "stats_cols": tuple(stats_cols)}
            )
            self._commit(name, adds=adds, op="create")

    def evolve_table_schema(
        self, name: str, new_fields, stats_cols=()
    ) -> None:
        """ADD COLUMNS for a generic table (Delta's additive schema
        evolution): extend the persisted schema with NEW nullable
        fields — never a drop, rename, or type change (those rewrite
        history; additions don't: every already-written file simply
        reads NULL for the new columns through the schema-pinned
        scan). Runs under the rewrite lock so concurrent evolutions
        serialize (``_meta_update``); the meta file lands atomically,
        and the in-memory registry updates only after it is durable.

        ``stats_cols`` opts a subset of the NEW columns into per-file
        min/max manifest stats: files written from now on carry them
        (merge/delete pruning, scan hints), while files written before
        simply have no entry — which readers already treat as "could
        match anything", so pruning stays conservative for history."""
        from pyspark.sql import types as T

        with self._meta_update(name) as entry:
            schema = entry["schema"]
            have = {f.name for f in schema.fields}
            fields = list(schema.fields)
            mapping = dict(entry["mapping"])
            # physical names already claimed by files on disk: under a
            # mapping, adding a LOGICAL name that matches a RENAMED
            # column's old physical name must NOT reuse that physical —
            # old files' data for it belongs to the renamed column.
            # DROPPED columns' physicals stay claimed forever (the
            # retired list): reusing one would resurrect the dropped
            # column's file data under the new column.
            used_phys = {mapping.get(f.name, f.name) for f in schema.fields}
            used_phys.update(entry["retired"])
            for nf in new_fields:
                if not isinstance(nf, T.StructField):
                    raise BadRequest(
                        "evolve_table_schema: new_fields must be StructFields"
                    )
                if nf.name in have:
                    # idempotent re-add: a long-lived writer with a
                    # stale cached schema may race another writer that
                    # already evolved the same column (ADVICE r10).
                    # Same name + same type is a no-op under the locked
                    # re-read.
                    existing = next(f for f in fields if f.name == nf.name)
                    if existing.dataType == nf.dataType:
                        continue
                    # type WIDENING (Delta's typeWidening / Iceberg
                    # promotion, VERDICT r10 #6): a lossless numeric
                    # promotion is a pure metadata change — every
                    # already-written file reads through the pinned
                    # wider schema natively (Spark 4.1's parquet reader
                    # up-casts int32->int64, float->double, int->double
                    # at scan time; pinned by tests), new appends cast
                    # on write, manifest stats stay comparable. Nothing
                    # is rewritten. Everything else still rewrites
                    # history and is refused.
                    if _type_widens(existing.dataType, nf.dataType):
                        idx = next(
                            i for i, f in enumerate(fields) if f.name == nf.name
                        )
                        fields[idx] = T.StructField(
                            nf.name, nf.dataType, existing.nullable
                        )
                        continue
                    raise BadRequest(
                        f"evolve_table_schema({name!r}): column "
                        f"{nf.name!r} already exists with type "
                        f"{existing.dataType.simpleString()}; "
                        f"{nf.dataType.simpleString()} is not a "
                        "lossless widening — only ADDITIVE evolution "
                        "and numeric type WIDENING (byte<short<int<"
                        "long, float->double, byte/short/int->double) "
                        "are supported"
                    )
                if nf.name in ("zkey", "_zest_file"):
                    raise BadRequest(
                        f"evolve_table_schema({name!r}): {nf.name!r} is "
                        "a reserved working-column name"
                    )
                phys = nf.name
                if phys in used_phys:
                    if not mapping:
                        # a retired physical forces the table onto an
                        # explicit mapping: materialize identity for
                        # the EXISTING columns first
                        mapping = {f.name: f.name for f in fields}
                    phys = f"{nf.name}_zp{uuid.uuid4().hex[:8]}"
                fields.append(T.StructField(nf.name, nf.dataType, True))
                have.add(nf.name)
                if mapping:
                    mapping[nf.name] = phys
                used_phys.add(phys)
            new_names = {f.name for f in new_fields}
            bad_stats = [c for c in stats_cols if c not in new_names]
            if bad_stats:
                raise BadRequest(
                    f"evolve_table_schema({name!r}): stats_cols "
                    f"{bad_stats} must be among the NEW columns"
                )
            entry["schema"] = T.StructType(fields)
            # order-preserving dedupe: a no-op re-add may request a
            # stats opt-in the racing writer already recorded
            entry["stats_cols"] = tuple(
                dict.fromkeys(entry["stats_cols"] + tuple(stats_cols))
            )
            entry["mapping"] = mapping

    def rename_table_column(self, name: str, old: str, new: str) -> None:
        """RENAME COLUMN for a generic table — Delta's column mapping:
        the LOGICAL name changes; the PHYSICAL name in every parquet
        file ever written is immutable, so nothing is rewritten. Reads
        pin the physical schema and alias back (``_scan_schema``);
        writes rename logical -> physical on the way in
        (``_stage_move``); manifest stats stay keyed by the stable
        physical name, and pruning translates at lookup. Time travel
        to pre-rename versions reads through the CURRENT logical
        schema (Delta's posture, same as additive evolution). Runs
        under the rewrite lock; the meta lands atomically."""
        from pyspark.sql import types as T

        with self._meta_update(name) as entry:
            schema = entry["schema"]
            names = [f.name for f in schema.fields]
            if old not in names:
                raise BadRequest(
                    f"rename_table_column({name!r}): no column {old!r} "
                    f"(have {names})"
                )
            if new == old:
                return
            if new in names:
                raise BadRequest(
                    f"rename_table_column({name!r}): {new!r} already exists"
                )
            if not new or new in ("zkey", "_zest_file"):
                raise BadRequest(
                    f"rename_table_column({name!r}): {new!r} is empty or "
                    "a reserved working-column name"
                )
            # first rename materializes the FULL logical->physical map
            # (identity for every untouched column) so later evolutions
            # and lookups see one consistent table-wide mapping
            mapping = dict(entry["mapping"]) or {n: n for n in names}
            mapping[new] = mapping.pop(old, old)
            entry["mapping"] = mapping
            entry["schema"] = T.StructType(
                [
                    T.StructField(new, f.dataType, f.nullable)
                    if f.name == old
                    else f
                    for f in schema.fields
                ]
            )
            entry["stats_cols"] = tuple(
                new if c == old else c for c in entry["stats_cols"]
            )

    def drop_table_column(self, name: str, col: str) -> None:
        """DROP COLUMN for a generic table — the column-mapping drop
        (Delta's posture): the LOGICAL column leaves the schema; the
        data stays in the files untouched (vacuumed naturally as
        rewrites retire old files). The column's PHYSICAL name is
        RETIRED permanently: re-adding the same logical name later
        allocates a fresh physical, so the dropped data can never
        resurrect under the new column. Time travel to pre-drop
        versions reads through the CURRENT (dropped) schema, same as
        every other metadata evolution."""
        from pyspark.sql import types as T

        with self._meta_update(name) as entry:
            schema = entry["schema"]
            names = [f.name for f in schema.fields]
            if col not in names:
                raise BadRequest(
                    f"drop_table_column({name!r}): no column {col!r} "
                    f"(have {names})"
                )
            if len(names) == 1:
                raise BadRequest(
                    f"drop_table_column({name!r}): cannot drop the last column"
                )
            mapping = dict(entry["mapping"]) or {n: n for n in names}
            entry["retired"] = entry["retired"] + (mapping.pop(col, col),)
            entry["mapping"] = mapping
            entry["schema"] = T.StructType(
                [f for f in schema.fields if f.name != col]
            )
            entry["stats_cols"] = tuple(
                c for c in entry["stats_cols"] if c != col
            )

    def append_table(
        self, name: str, df: DataFrame, merge_schema: bool = False
    ) -> None:
        """Lock-free append to a generic table (one atomic manifest
        commit; concurrent appends serialize through the CAS like
        every other append in the store).

        ``merge_schema=True`` (Delta's mergeSchema posture): columns in
        ``df`` that the table lacks are first ADDED to the table schema
        as nullable fields (``evolve_table_schema`` — one locked meta
        update), and table columns ``df`` lacks are filled with NULL.
        Old files read NULL for new columns; nothing is rewritten."""
        if self._generic_entry(name) is None:
            raise KeyError(f"{name!r} is not a generic manifested table")
        schema = self._generic[name]["schema"]
        want = set(f.name for f in schema.fields)
        got = set(df.columns)
        if merge_schema and got - want:
            from pyspark.sql import types as T

            extras = [f for f in df.schema.fields if f.name not in want]
            self.evolve_table_schema(name, extras)
            schema = self._generic[name]["schema"]
            want = set(f.name for f in schema.fields)
        if merge_schema and want - got:
            for f in schema.fields:
                if f.name not in got:
                    df = df.withColumn(f.name, F.lit(None).cast(f.dataType))
            got = set(df.columns)
        if want != got:
            raise BadRequest(
                f"append_table({name!r}): columns {sorted(got)} != "
                f"table schema {sorted(want)}"
            )
        # cast to the PERSISTED physical types: appending a frame with
        # matching names but drifted types (float vs double, string vs
        # long) would otherwise poison every later schema-pinned read
        # of the whole table — the same guard every other write path
        # applies
        df = df.select(*[F.col(f.name).cast(f.dataType) for f in schema.fields])
        adds = self._stage_move(name, df)
        self._commit(name, adds=adds, op="append")

    def merge_table(self, name: str, updates: DataFrame, key_cols) -> int:
        """Keyed MERGE (upsert) into a GENERIC table — the same Delta
        recipe as ``merge_rows`` on the TS tables, with caller-chosen
        key columns: every live row whose key appears in ``updates`` is
        replaced, every other update row is inserted, one atomic
        commit; duplicate keys replace-by-key on both sides. Cost ∝
        touched files + update batch: the update batch's min/max on
        stats-covered key columns prunes the manifest to candidate
        files, and an ``input_file_name`` semi-join narrows the rewrite
        to provably-hit files. Returns the number of files rewritten.

        Pruning is conservative: key columns outside ``stats_cols``
        (or with incomparable stats) simply prune nothing — create the
        table with its merge keys in ``stats_cols`` to get the skip."""
        if self._generic_entry(name) is None:
            raise KeyError(f"{name!r} is not a generic manifested table")
        schema = self._generic[name]["schema"]
        names = [f.name for f in schema.fields]
        key_cols = list(key_cols)
        if not key_cols or any(k not in names for k in key_cols):
            raise BadRequest(
                f"merge_table({name!r}): key_cols {key_cols} must be "
                f"columns of {names}"
            )
        if set(updates.columns) != set(names):
            raise BadRequest(
                f"merge_table({name!r}): columns {sorted(updates.columns)} "
                f"!= table schema {sorted(names)}"
            )
        updates = updates.select(
            *[F.col(f.name).cast(f.dataType) for f in schema.fields]
        )
        if updates.isEmpty():
            return 0
        # self-duplicate handling (the round-9 review's one deferral):
        # exact duplicate rows in the batch collapse (idempotent —
        # re-sending a row is harmless), but two DIFFERENT payloads for
        # the same key are an ambiguous merge and raise, Delta's
        # "multiple source rows matched" contract — silently picking a
        # winner would make the result depend on partition order. Both
        # checks are batch-sized jobs, never table-sized.
        #
        # Spark forbids set operations (distinct/groupBy/join keys) on
        # MapType columns, including maps nested in structs/arrays. A
        # schema containing maps dedupes on the NON-map columns
        # natively plus a serialized image of ONLY the map-typed
        # columns (ADVICE r11): a whole-row to_json image would let
        # two genuinely distinct rows whose JSON prints coincide
        # (0.0 vs -0.0, NaN) collapse to one arbitrary row — the
        # partition-order-dependent outcome the ambiguity check below
        # exists to prevent. Restricting the lossy image to the map
        # columns keeps every other column on Spark's native distinct
        # semantics (the same semantics the map-free branch gets).
        # Two logically-equal maps that differ only in physical key
        # order conservatively stay distinct — they then trip the
        # ambiguity check rather than silently collapsing. Keys
        # themselves may never be map-typed (no equality), checked up
        # front.
        if any(_type_has_map(schema[k].dataType) for k in key_cols):
            raise BadRequest(
                f"merge_table({name!r}): key_cols may not be (or "
                "contain) map-typed columns — maps have no equality"
            )
        map_cols = [
            f.name for f in schema.fields if _type_has_map(f.dataType)
        ]
        if map_cols:
            imgs = [
                F.to_json(F.col(c)).alias(f"__zest_img_{c}")
                for c in map_cols
            ]
            img_names = [f"__zest_img_{c}" for c in map_cols]
            non_map = [c for c in names if c not in map_cols]
            updates = (
                updates.select("*", *imgs)
                .dropDuplicates(non_map + img_names)
                .drop(*img_names)
                .persist()
            )
        else:
            updates = updates.distinct().persist()
        try:
            dup = (
                updates.groupBy(*key_cols)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .collect()
            )
            if dup:
                dup_key = {k: dup[0][k] for k in key_cols}
                raise BadRequest(
                    f"merge_table({name!r}): update batch has multiple "
                    f"DIFFERENT rows for key {dup_key} — an ambiguous "
                    "merge; dedupe the batch to one row per key first"
                )
            keys = updates.select(*key_cols).distinct()
            statable = [
                k for k in key_cols if k in self._generic[name]["stats_cols"]
            ]
            terms: list[tuple[str, str, object]] = []
            if statable:
                aggs = []
                for k in statable:
                    aggs += [
                        F.min(k).alias(f"__lo_{k}"),
                        F.max(k).alias(f"__hi_{k}"),
                    ]
                row = updates.agg(*aggs).collect()[0]
                for k in statable:
                    lo, hi = row[f"__lo_{k}"], row[f"__hi_{k}"]
                    if lo is not None and hi is not None:
                        pk = self._phys(name, k)  # stats are keyed physical
                        terms += [(pk, ">=", lo), (pk, "<=", hi)]
            return self._rewrite_hits(
                name,
                "merge",
                lambda rel, st: self._stats_may_match(st, terms),
                lambda df: df.join(keys, key_cols, "semi"),
                lambda df: df.join(keys, key_cols, "left_anti"),
                inserts=updates,
            )
        finally:
            updates.unpersist()

    @staticmethod
    def _predicate_terms(predicate: str) -> "list[tuple[str, str, object]] | None":
        """Conservative analysis of a DELETE predicate for manifest-
        stats file skipping: recognize ONLY conjunctions of simple
        comparisons (``col <op> literal``, ``literal <op> col``,
        ``col BETWEEN a AND b``) and return them as (col, op, value)
        terms; ANYTHING else — OR, functions, arithmetic, parentheses,
        subqueries — returns None and prunes nothing (the same
        "conservative by construction" contract as merge_table's key
        bounds). Soundness: a term only ever REMOVES files whose
        min/max prove no row can satisfy it, so an unrecognized
        predicate can never cause a wrong skip — it just reads more."""
        import re

        num = r"-?\d+(?:\.\d+)?"
        lit = rf"(?:{num}|'[^']*')"
        ident = r"(?:`[^`]+`|[A-Za-z_][A-Za-z0-9_]*)"
        op = r"(?:<=|>=|<|>|=)"
        term_re = re.compile(
            rf"^\s*(?:({ident})\s*({op})\s*({lit})"
            rf"|({lit})\s*({op})\s*({ident})"
            rf"|({ident})\s+BETWEEN\s+({lit})\s+AND\s+({lit}))\s*$",
            re.IGNORECASE,
        )

        def _val(s: str):
            if s.startswith("'"):
                return s[1:-1]
            return float(s) if "." in s else int(s)

        def _col(s: str) -> str:
            return s[1:-1] if s.startswith("`") else s

        flip = {"<": ">", ">": "<", "<=": ">=", ">=": "<=", "=": "="}
        terms: list[tuple[str, str, object]] = []
        # split on AND; any OR/paren/etc. falls through to the
        # per-term regex and bails the whole analysis. BETWEEN's own
        # AND gets split too — rejoin a "<col> BETWEEN <lit>" fragment
        # with the bare-literal fragment that follows it.
        raw = re.split(r"\s+AND\s+", predicate, flags=re.IGNORECASE)
        between_head = re.compile(
            rf"^\s*{ident}\s+BETWEEN\s+{lit}\s*$", re.IGNORECASE
        )
        bare_lit = re.compile(rf"^\s*{lit}\s*$")
        parts, i = [], 0
        while i < len(raw):
            if (
                i + 1 < len(raw)
                and between_head.match(raw[i])
                and bare_lit.match(raw[i + 1])
            ):
                parts.append(f"{raw[i]} AND {raw[i + 1]}")
                i += 2
            else:
                parts.append(raw[i])
                i += 1
        for part in parts:
            m = term_re.match(part)
            if not m:
                return None
            if m.group(1):
                terms.append((_col(m.group(1)), m.group(2), _val(m.group(3))))
            elif m.group(4):
                terms.append((_col(m.group(6)), flip[m.group(5)], _val(m.group(4))))
            else:
                terms.append((_col(m.group(7)), ">=", _val(m.group(8))))
                terms.append((_col(m.group(7)), "<=", _val(m.group(9))))
        return terms

    @staticmethod
    def _stats_may_match(st, terms) -> bool:
        """May a file with manifest stats ``st`` contain a row
        satisfying every term? False only on PROOF (min/max wholly
        outside the constraint); missing/None/incomparable stats never
        prune."""
        st = st or {}
        for col, op, v in terms:
            fmin = (st.get("min") or {}).get(col)
            fmax = (st.get("max") or {}).get(col)
            if fmin is None or fmax is None:
                continue
            try:
                if (
                    (op == "<" and fmin >= v)
                    or (op == "<=" and fmin > v)
                    or (op == ">" and fmax <= v)
                    or (op == ">=" and fmax < v)
                    or (op == "=" and (fmin > v or fmax < v))
                ):
                    return False
            except TypeError:
                continue  # incomparable stats: never prune blind
        return True

    def delete_table_rows(self, name: str, predicate: str) -> int:
        """Predicate DELETE from a generic table (Delta's ``DELETE
        WHERE``): rows matching the SQL ``predicate`` are removed by
        rewriting ONLY the files that actually contain a match
        (``input_file_name`` scan), survivors staged as ``rw-*`` and
        swapped with the removals in one atomic commit — every unhit
        file stays live and byte-identical, and a crash before the
        commit leaves the table fully old. Returns the number of files
        rewritten.

        Hit DETECTION is manifest-stats-pruned first (the Delta data-
        skipping posture, added after the round-10 100k-file probe
        measured the full-scan version): a predicate recognized by
        ``_predicate_terms`` (AND-ed simple comparisons) skips every
        file whose min/max prove no match, so a narrow delete on a
        stats-covered column touches O(matching files), not O(table).
        Unrecognized predicates scan everything — conservative, never
        wrong."""
        if self._generic_entry(name) is None:
            raise KeyError(f"{name!r} is not a generic manifested table")
        cond = F.expr(predicate)
        # predicate columns are LOGICAL; stats keys are PHYSICAL
        # (stable across renames)
        terms = [
            (self._phys(name, col), op, v)
            for col, op, v in self._predicate_terms(predicate) or ()
        ]
        return self._rewrite_hits(
            name,
            "delete",
            lambda rel, st: self._stats_may_match(st, terms),
            lambda df: df.filter(cond),
            # survivors = rows where the predicate is NOT TRUE: a NULL
            # predicate must KEEP the row (Delta's DELETE semantics),
            # and a bare ~cond would silently drop NULL-valued rows
            lambda df: df.filter(F.coalesce(~cond, F.lit(True))),
        )

    def optimize_table(
        self,
        name: str,
        target_files: int = 1,
        zorder_by=(),
        bits: int = 16,
        vacuum_retention_s: float = 0.0,
    ) -> int:
        """OPTIMIZE for generic tables: merge the live files down to
        ``target_files``, optionally Z-ORDER clustered on
        ``zorder_by`` (functions/layout.py — every clustered column
        gets bounded per-file min/max spans, so multi-dimension box
        predicates skip files; pair with ``stats_cols`` to surface
        those spans in the manifest). One atomic swap commit, replaced
        byte-duplicates reclaimed per ``vacuum_retention_s`` (0 = the
        OPTIMIZE + VACUUM 0 HOURS posture, same trade as ``compact``).
        Returns the number of files replaced."""
        if self._generic_entry(name) is None:
            raise KeyError(f"{name!r} is not a generic manifested table")
        with self._rewrite_lock(name):
            live = self._live_files(name)
            if not live:
                return 0
            df = self._read_files(name, live)
            if zorder_by:
                from zestdb_spark.functions.layout import zorder_layout

                clustered = zorder_layout(
                    df, list(zorder_by), int(target_files), bits=bits
                )
            else:
                clustered = df.repartition(int(target_files))
            adds = self._stage_move(name, clustered, rewrite=True)
            self._commit(name, adds=adds, removes=live, op="optimize")
            self.vacuum(name, retention_s=vacuum_retention_s)
        return len(live)

    @contextlib.contextmanager
    def _rewrite_lock(self, table: str, wait_s: float = 30.0):
        """Advisory per-table writer lock for the REWRITE paths (delete
        / upsert / compact — appends commute and take no lock). The
        reference serializes every write through one server loop over a
        transactional store (src/server.re:1075-1084); this is that
        serialization expressed over the coordination seam
        (coordination.py): an exclusive mutex with dead-holder reclaim,
        StoreBusy (CoAP 163) after ``wait_s``. The default coordinator
        is local-FS (O_EXCL lockfile), same single-node scope as the
        reference; a multi-driver deployment swaps the coordinator,
        not this method.
        """
        path = os.path.join(self.root, f".lock_{table}")
        with coordination.mutex(
            path,
            wait_s,
            busy_error=lambda pid: StoreBusy(
                f"table {table!r} is being rewritten by pid {pid or '?'} "
                f"(lock {path}); retry when it finishes"
            ),
        ):
            yield

    def _snapshot(self, table: str) -> "snapshots.Snapshot":
        """Current manifest of ``table`` — the table's whole state. A
        table with no log yet is the empty version -1 (never written;
        files no manifest names are never read)."""
        return snapshots.latest(self._path(table))

    def _exists(self, table: str) -> bool:
        return bool(self._snapshot(table).files)

    @staticmethod
    def _file_may_match(
        rel: str,
        stat: "dict | None",
        since_ms: Optional[int],
        until_ms: Optional[int],
        series,
    ) -> bool:
        """Can this manifest file contain a row matching the scan hint?
        Three conservative checks, each skipped when its evidence is
        absent: the partition values encoded in the relpath (series_id,
        day bucket — the reference's per-series directory walk,
        timeseries.re:197-231), then the file's recorded timestamp
        min/max (manifest stats). Both window bounds are INCLUSIVE
        (P3/P4 semantics). No evidence → True (never prune blind)."""
        parts = snapshots.rel_parts(rel)
        sid = parts.get("series_id")
        if series is not None and sid is not None and sid not in series:
            return False
        tb = parts.get("time_bucket")
        if tb is not None:
            try:
                b = int(tb)
            except ValueError:
                b = None
            if b is not None:
                if since_ms is not None and b < _bucket_of(since_ms):
                    return False
                if until_ms is not None and b > _bucket_of(until_ms):
                    return False
        if stat:
            lo = (stat.get("min") or {}).get("timestamp")
            hi = (stat.get("max") or {}).get("timestamp")
            if until_ms is not None and lo is not None and lo > until_ms:
                return False
            if since_ms is not None and hi is not None and hi < since_ms:
                return False
        return True

    def _pinned(
        self, table: str, version: int, verb: str
    ) -> "snapshots.Snapshot":
        """Manifest of past ``version`` for a time-travel read, restore
        or clone — refused loudly (``verb`` names the use) when the
        version was never committed, its manifest was pruned, or any of
        its files were reclaimed by vacuum, never deep in a scan."""
        if not self._is_manifested(table):
            raise BadRequest(f"{table!r} is not under snapshot control")
        path = self._path(table)
        snap = snapshots.read_version(path, version)
        if snap is None:
            raise BadRequest(
                f"{table!r} has no {verb} version {version} "
                "(never committed, or pruned by vacuum)"
            )
        gone = [f for f in snap.files if not os.path.exists(os.path.join(path, f))]
        if gone:
            raise BadRequest(
                f"version {version} of {table!r} is no longer {verb}: "
                f"{len(gone)} of its files were reclaimed by vacuum "
                f"(first: {gone[0]!r})"
            )
        return snap

    def _scan_files(
        self, table: str, snap, since_ms, until_ms, series, tail
    ) -> "tuple[list[str], int | None]":
        """The files of ``snap`` a hinted read keeps, and the tail bound
        (see ``load``). Manifest-level data skipping (Delta/Iceberg file
        stats) drops files the hint provably cannot match BEFORE Spark
        ever lists or plans them: at 100 TB a job's planning cost becomes
        O(matching files), not O(table files), and Spark's own partition
        pruning and row-group skipping still run on whatever survives.
        The kept files hold a SUPERSET of the matching rows; callers
        apply exact filters. The last/first family then keeps only the
        files that can hold each series' top n (the reference's
        newest-shard walk)."""
        files = snap.files
        if since_ms is not None or until_ms is not None or series is not None:
            files = [
                f
                for f in files
                if self._file_may_match(f, snap.stats.get(f), since_ms, until_ms, series)
            ]
        if tail is not None and table in ("ts_numeric", "ts_blob"):
            return snapshots.tail_files(files, snap.stats, *tail)
        return files, None

    def local_files(
        self,
        table: str,
        keys,
        rels=None,
        *,
        since_ms: Optional[int] = None,
        until_ms: Optional[int] = None,
        tail: "tuple[str, int] | None" = None,
    ) -> "dict[str, list[str]] | None":
        """The files a driver-side read takes, as absolute paths grouped
        by partition value (``series_id`` for the TS tables, ``id`` for
        the KV tables) for each of ``keys``: the relpaths ``rels`` of
        the current snapshot, or else the files ONE snapshot keeps for
        the scan hints (``_scan_files``, the decision ``load`` makes).

        None — read with Spark — when the files total more than
        ``_DRIVER_MAX_BYTES``, one vanished, a file lies outside a
        partition of the key column, or the table has a column mapping.
        A table never written is ``{}``."""
        snap = self._snapshot(table)
        if self._column_mapping(table):
            return None
        col = "id" if table.startswith("kv_") else "series_id"
        if rels is None:
            series = set(keys) if col == "series_id" else None
            rels, _ = self._scan_files(table, snap, since_ms, until_ms, series, tail)
        picked = []
        for rel in rels:
            key = snapshots.rel_parts(rel).get(col)
            if key is None:
                return None
            if key in keys:
                picked.append((key, rel))
        paths = self._driver_paths(table, [rel for _, rel in picked])
        if paths is None:
            return None
        out: "dict[str, list[str]]" = {}
        for (key, _), path in zip(picked, paths):
            out.setdefault(key, []).append(path)
        return out

    def _driver_paths(self, table: str, rels) -> "list[str] | None":
        """The absolute paths of ``table``'s relpaths ``rels``, or None
        when they total more than ``_DRIVER_MAX_BYTES`` or one vanished
        (racing maintenance): the caller takes its Spark path."""
        real = self._path(table)
        paths = [os.path.join(real, rel) for rel in rels]
        total = 0
        for path in paths:
            try:
                total += os.path.getsize(path)
            except OSError:
                return None
        return paths if total <= self._DRIVER_MAX_BYTES else None

    def _read_table(
        self,
        table: str,
        version: Optional[int] = None,
        since_ms: Optional[int] = None,
        until_ms: Optional[int] = None,
        series=None,
        tail: "tuple[str, int] | None" = None,
    ) -> DataFrame:
        """Full-read-schema frame of a table: EXACTLY the manifest's
        file set (one consistent snapshot, pinned at DataFrame
        creation — a rewrite committing later cannot tear this read
        because its replaced files are tombstoned, not deleted, until
        vacuum); a table with no log reads empty. ``version`` pins a PAST
        manifest (time travel — Delta's VERSION AS OF; the reference's
        store is a git repo where every write is a commit, so reading
        an old tree is native there, shard.re:9-11). Past versions are
        readable while their manifests and tombstoned files survive
        vacuum's retention; a reclaimed version fails loudly here, not
        deep in a scan."""
        if version is not None:
            snap = self._pinned(table, version, "readable")
        else:
            snap = self._snapshot(table)
        files, bound = self._scan_files(table, snap, since_ms, until_ms, series, tail)
        if not files:
            return _empty_df(self.spark, self._read_schema(table))
        # only HEAD reads are cacheable: a pinned past version must
        # re-run the reclaimed-files check above every time (its
        # tombstoned files may vacuum away while an entry idles)
        key = None
        if version is None:
            key = (
                table,
                snap.version,
                since_ms,
                until_ms,
                None if series is None else frozenset(series),
                tail,
            )
            with self._reader_lock:
                cached = self._reader_cache.get(key)
                if cached is not None:
                    self._reader_cache.move_to_end(key)
                    return cached
        df = self._read_files(table, files)
        if bound is not None:
            # the tail bound reaches parquet as a pushed filter, so row
            # groups inside a large surviving file are skipped too;
            # null timestamps sort first in "first" order
            ts = F.col("timestamp")
            df = df.filter(
                ts.isNull() | (ts >= bound if tail[0] == "last" else ts <= bound)
            )
        if key is not None:
            with self._reader_lock:
                self._reader_cache[key] = df
                while len(self._reader_cache) > self._READER_CACHE_MAX:
                    self._reader_cache.popitem(last=False)
        return df

    def load(
        self,
        table: str,
        version: Optional[int] = None,
        *,
        as_of_ms: Optional[int] = None,
        since_ms: Optional[int] = None,
        until_ms: Optional[int] = None,
        series=None,
        tail: "tuple[str, int] | None" = None,
    ) -> DataFrame:
        """Read a table (empty frame with the right schema if unwritten).
        The partition columns are pruned back out so callers always see
        the canonical schema. ``version`` time-travels to a past
        snapshot (see ``_read_table``).

        ``since_ms``/``until_ms`` (inclusive) and ``series`` are SCAN
        HINTS: the manifest's per-file stats and relpath partition
        values drop files that provably cannot match before Spark plans
        the read. The frame still contains every row of the surviving
        files — a superset of the exact answer — so callers apply their
        exact predicate as always; the hint only shrinks the file list
        (correctness is hint-independent, pinned by
        tests/test_stats_pruning.py).

        ``tail=("last"|"first", n)`` is the same kind of hint for the
        last/first-family windows over the TS tables (other tables
        ignore it): the frame holds at least each series' n newest
        (oldest) rows, read from only the files whose manifest stats
        can hold them (``snapshots.tail_files``), with the loosest
        timestamp bound pushed to the parquet reader."""
        schema = self._schema_of(table)  # KeyError on unknown tables
        if as_of_ms is not None:
            if version is not None:
                raise BadRequest("pass version OR as_of_ms, not both")
            version = self.version_at(table, as_of_ms)
        return self._read_table(
            table,
            version,
            since_ms=since_ms,
            until_ms=until_ms,
            series=series,
            tail=tail,
        ).select(*[f.name for f in schema.fields])

    def window_stat(
        self,
        table: str,
        agg: str,
        series,
        scan,
        since_ms: Optional[int] = None,
        until_ms: Optional[int] = None,
    ):
        """``length`` (``agg="length"``) or the bare ``count``/``min``/
        ``max`` of ``value`` over the rows of ``series`` in an inclusive
        window of a TS table, answered from ONE snapshot. Files whose
        stats prove every row matches (``snapshots.window_files``) fold
        those stats: ``length`` is Σrows, ``count`` Σ(rows − null
        values), ``min``/``max`` the fold of the value bounds. Only the
        boundary files are read: ``scan(rels, frame)`` is the read's
        answer over the snapshot's relpaths ``rels``, where ``frame()``
        builds the Spark frame over them for a caller that does not
        answer on the driver. No boundary file, no read; a table never
        written folds nothing.

        Returns an int (length), a float (count), or a float or None
        (min/max over no value); a NaN is Spark's answer (NaN orders
        above every number). A covered file missing the stat it would
        fold, or whose folded bound is 0.0, is read instead: pyarrow
        records 0.0 for a -0.0, and Spark's min/max keep the sign."""
        snap = self._snapshot(table)
        candidates = [
            f
            for f in snap.files
            if self._file_may_match(f, snap.stats.get(f), since_ms, until_ms, series)
        ]
        covered, boundary = snapshots.window_files(
            candidates, snap.stats, series, since_ms, until_ms
        )
        parts = []
        for rel in covered:
            st = snap.stats[rel]
            if agg == "length":
                v = st["rows"]
            elif agg == "count":
                nulls = (st.get("nulls") or {}).get("value")
                v = None if nulls is None else st["rows"] - nulls
            else:  # the file's "min"/"max" value bound
                v = (st.get(agg) or {}).get("value")
                v = None if v == 0.0 else v
            if v is None:
                boundary.append(rel)
            else:
                parts.append(v)
        if boundary:
            got = scan(boundary, lambda: self._read_files(table, boundary))
            if got is not None:
                parts.append(got)
        if agg == "length":
            return sum(parts)
        if agg == "count":
            return float(sum(parts))
        if not parts:
            return None
        pick = min if agg == "min" else max
        return pick(parts, key=lambda v: (math.isnan(v), v))

    def _scan_schema(self, table: str, schema):
        """(read_schema, restore) for a parquet scan of ``table``:
        under a column mapping the files carry PHYSICAL names, so the
        scan pins the physical schema and ``restore`` aliases the
        result back to logical names. Identity (no renames ever):
        the schema passes through and restore is a no-op."""
        mapping = self._column_mapping(table)
        if not mapping:
            return schema, lambda df: df
        from pyspark.sql import types as T

        phys = T.StructType(
            [
                T.StructField(mapping.get(f.name, f.name), f.dataType, f.nullable)
                for f in schema.fields
            ]
        )

        def restore(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.col(mapping.get(f.name, f.name)).alias(f.name)
                    for f in schema.fields
                ]
            )

        return phys, restore

    def _read_schema(self, table: str):
        base = self._schema_of(table)
        if table in ("ts_numeric", "ts_blob"):
            from pyspark.sql import types as T

            return T.StructType(
                list(base.fields)
                + [
                    T.StructField("write_id", T.LongType(), True),
                    T.StructField("time_bucket", T.LongType(), True),
                ]
            )
        return base

    def load_with_provenance(
        self, table: str, version: Optional[int] = None
    ) -> DataFrame:
        """Canonical columns plus the ``write_id`` provenance stamp —
        join against ``load('write_log')`` for per-row (who, how, which
        path, when) lineage, the analytic equivalent of the reference's
        per-commit provenance message (src/prov.re:38-46)."""
        if table not in _STAMPED:
            raise KeyError(f"{table!r} rows are not provenance-stamped")
        return self._read_table(table, version).select(
            *[f.name for f in _TABLES[table].fields], "write_id"
        )

    # --------------------------------------------------------- bucketing

    def bucketize(self, table: str, n_buckets: int = 32) -> str:
        """Publish a BUCKETED mirror of a TS table (hash-bucketed AND
        sorted by series_id, timestamp) as a managed Spark table, and
        return its name. Downstream groupBy/window on ``series_id``
        over ``load_bucketed`` then runs with ZERO exchange — Spark
        trusts the bucket layout instead of reshuffling (asserted in
        tests/test_bucketed.py). This is the batch-analytics read path
        at 100 TB: pay the shuffle once at publish time, every
        subsequent per-series scan/agg/window is exchange-free. The
        write path stays on the partitioned layout (cheap appends);
        bucketize() is the OPTIMIZE-style republish step, run at the
        same cadence as compact().

        ``n_buckets`` should be sized so a bucket's hot-series rows fit
        an executor (buckets ≈ executors at the target scale)."""
        if table not in ("ts_numeric", "ts_blob"):
            raise KeyError(f"{table!r} is not a TS table")
        name = self._bucketed_name(table)
        path = self._path(f"bucketed_{table}")
        # republish atomically-enough for a maintenance op: drop the
        # catalog entry and its EXTERNAL location (under the store
        # root, so two stores can never collide in the warehouse)
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(path, ignore_errors=True)
        (
            self.load(table)
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(int(n_buckets), "series_id")
            .sortBy("series_id", "timestamp")
            .format("parquet")
            .saveAsTable(name)
        )
        return name

    def _bucketed_name(self, table: str) -> str:
        import hashlib

        suffix = hashlib.md5(self.root.encode()).hexdigest()[:8]
        return f"zest_bucketed_{table}_{suffix}"

    def load_bucketed(self, table: str) -> DataFrame:
        """Read the bucketed mirror published by ``bucketize`` (must
        exist). Reads carry the bucket spec, so series_id aggregations
        and windows skip their exchange."""
        name = self._bucketed_name(table)
        if not self.spark.catalog.tableExists(name):
            raise KeyError(f"no bucketed mirror for {table!r} — run bucketize()")
        return self.spark.table(name)

    # --------------------------------------------------------- provenance

    def set_request_context(
        self, method: str, path: str, client: str, content_format: Optional[str] = None
    ) -> None:
        """Record the request that later mutations execute under — for
        a caller driving the store directly on behalf of one client —
        until the next call or the end of the next engine request; a
        mutation with no context gets a DIRECT/<table> provenance row."""
        self._ctx = (method, path, client, content_format)

    @contextlib.contextmanager
    def _request(
        self, method: str, path: str, client: str, content_format: Optional[str] = None
    ):
        """The request context of the mutations inside the block only
        (the engine facade's dispatch, streaming ingest's batches):
        cleared on exit, so a later direct mutation is never logged
        under a finished request."""
        self._ctx = (method, path, client, content_format)
        try:
            yield
        finally:
            self._ctx = None

    def _next_write_id(self) -> int:
        """Monotonic batch id, seeded from the durable log (single-writer
        facade, like the reference's one-server-per-store Irmin repo);
        the lock keeps ids unique across this store's lock-free
        concurrent appenders."""
        with self._seq_lock:
            if self._write_seq is None:
                if self._exists("write_log"):
                    row = self.load("write_log").agg(F.max("write_id")).first()
                    self._write_seq = int(row[0] or 0)
                else:
                    self._write_seq = 0
            self._write_seq += 1
            return self._write_seq

    def _log_write(self, table: str, n_rows: Optional[int], wid: Optional[int] = None) -> int:
        """Append one write_log row for a mutation on ``table`` under the
        current request context; returns the batch's write_id.

        INVARIANT: callers log AFTER the data mutation commits, so a
        write_log row's presence implies its batch landed — which is
        what makes streaming-ingest replay idempotence a write_log
        lookup (streaming/ingest.py)."""
        if wid is None:
            wid = self._next_write_id()
        method, path, client, fmt = self._ctx or ("DIRECT", f"/{table}", "local", None)
        rec = (wid, now_ms(), self._server, client, method, path, fmt, table, n_rows)
        self._append_log("write_log", [rec])
        return wid


    # ------------------------------------------- stage/commit plumbing
    # The single-node table format (snapshots.py): writes STAGE parquet
    # files into the live tree (unreferenced = invisible to manifest
    # readers), then COMMIT an atomic manifest naming the new live file
    # set. With Delta/Iceberg on the classpath this whole block becomes
    # MERGE/DELETE/OPTIMIZE and goes away.

    def _stage_move(
        self,
        table: str,
        df: DataFrame,
        partition_cols=(),
        rewrite: bool = False,
    ) -> list[str]:
        """Write ``df`` into the table tree invisibly: stage under a
        dot-dir (never scanned), then move each data file into its
        ``partition_cols`` location. Returns the added relpaths for the
        commit. A crash at any point here leaves only unreferenced
        files — readers are untouched, vacuum reclaims the orphans.

        ``rewrite=True`` renames the files ``rw-*`` instead of Spark's
        ``part-*``: rewrites (delete survivors, upsert namespaces,
        compactions, restores) re-materialize rows that were already
        announced to observers, and the data-observe stream
        (streaming/observe.py) globs ``part-*`` so only genuine APPENDS
        notify — the reference's observers fire per POST, never on
        maintenance (src/server.re:778-793)."""
        # column mapping: files always carry PHYSICAL names — rename
        # the frame's mapped logical columns in ONE simultaneous
        # projection (sequential withColumnRenamed collides when one
        # column's physical name equals another's logical name, e.g.
        # after quality->score-style rename chains); working columns
        # like zkey/_zest_file pass through untouched
        mapping = self._column_mapping(table)
        if mapping:
            df = df.select(
                *[
                    F.col(c).alias(mapping[c])
                    if mapping.get(c, c) != c
                    else F.col(c)
                    for c in df.columns
                ]
            )
        real = self._path(table)
        stage = os.path.join(self.root, f".stage_{table}_{uuid.uuid4().hex[:12]}")
        # pid-owned sidecar NEXT TO the stage dir (Spark's overwrite
        # recreates the dir itself): vacuum must never reclaim a LIVE
        # writer's staging tree — an mtime floor alone can misfire when
        # a straggler task computes past the floor without touching a
        # file, silently dropping that task's rows from the batch. The
        # marker makes liveness explicit: owner alive → never reclaim;
        # owner dead → reclaim immediately.
        owner = f"{stage}.owner"
        with open(owner, "w") as f:
            # pid + host identity: a vacuum on ANOTHER host must not
            # treat its own process table's "no such pid" as evidence
            # this writer is dead (ADVICE r9 — over shared storage that
            # misfire would rmtree a live remote append's staging tree)
            f.write(f"{os.getpid()} {coordination.host_id()}")
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        adds = []
        try:
            # a failed write job leaves nothing behind either
            writer.parquet(stage)
            for rel in snapshots.list_data_files(stage):
                src = os.path.join(stage, rel)
                if rewrite:
                    head, base = os.path.split(rel)
                    rel = os.path.join(head, f"rw-{base.removeprefix('part-')}")
                dst = os.path.join(real, rel)
                if os.path.exists(dst):
                    # Spark part-file names carry a per-job UUID, so this
                    # is near-impossible; disambiguate rather than clobber
                    head, ext = os.path.splitext(rel)
                    rel = f"{head}-{uuid.uuid4().hex[:8]}{ext}"
                    dst = os.path.join(real, rel)
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(src, dst)
                adds.append(rel)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
            with contextlib.suppress(OSError):
                os.unlink(owner)
        return adds

    def _commit(
        self, table: str, adds=(), removes=(), op: str = "", txn=None
    ) -> "snapshots.Snapshot":
        # lease-loss guard: if this process holds the table's rewrite
        # mutex through a lease-based coordinator and the heartbeat
        # could not keep the lease alive, abort HERE — staged files are
        # still unreferenced, so stopping short of the manifest commit
        # is always safe, while committing could interleave with the
        # lease's next owner mid-rewrite. No-op for lock-free appends
        # (the path isn't tracked) and for the local-FS backend.
        coordination.assert_lease(os.path.join(self.root, f".lock_{table}"))
        return snapshots.commit(
            self._path(table),
            list(adds),
            list(removes),
            op=op,
            stats=self._stats_for(table, adds),
            txn=txn,
        )

    def _stats_for(self, table: str, rels) -> "dict | None":
        """Manifest file statistics for freshly committed files
        (Delta/Iceberg data skipping, snapshots.Snapshot.stats): read
        each add's parquet footer for the table's _STATS_COLS min/max.
        Works for every commit path for free — appends, delete
        survivors, compactions, AND restore (whose adds are old files
        still on disk, so re-added files regain stats even when the
        restored-to manifest predates stats collection)."""
        cols = _STATS_COLS.get(table)
        if not cols and self._generic_entry(table) is not None:
            cols = self._generic[table]["stats_cols"] or None
            if cols:
                # footers carry PHYSICAL names; stats are keyed by them
                # too (stable across renames — every manifest ever
                # written agrees), so lookups translate logical →
                # physical at the pruning sites
                cols = tuple(self._phys(table, c) for c in cols)
        if not cols or not rels:
            return None
        root = self._path(table)
        rels = list(rels)
        if len(rels) > 64:
            # footer reads are tiny I/O round trips — a bulk commit
            # (a big ingest, a restore) collects them concurrently
            # instead of serially (~0.14 ms/file serial; threads cut
            # wall time ~8×). Per-write commits skip the pool cost.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=16) as pool:
                stats = pool.map(
                    lambda rel: _footer_stats(os.path.join(root, rel), cols),
                    rels,
                )
                out = {rel: s for rel, s in zip(rels, stats) if s is not None}
        else:
            out = {}
            for rel in rels:
                s = _footer_stats(os.path.join(root, rel), cols)
                if s is not None:
                    out[rel] = s
        return out or None

    def _rewrite_hits(
        self, table: str, op: str, may, hit, keep, inserts=None, partition_cols=()
    ) -> int:
        """The table format's one row-level rewrite (MERGE, DELETE — the
        Delta recipe, cost ∝ touched files + batch, never table size).
        Under the rewrite lock:
        1. ``may(rel, stat)`` prunes the live files to CANDIDATES from
           manifest stats / relpath partitions (False only on proof);
        2. an ``input_file_name`` scan of the candidates keeps the files
           holding a row ``hit(frame)`` selects — only those are
           rewritten;
        3. the hit files' ``keep(frame)`` rows stage as ``rw-*``
           (maintenance — observers stay quiet) and ``inserts`` as
           ``part-*`` (a genuine append observers should see), both
           under ``partition_cols``, and ONE commit swaps them for the
           hit files. A crash anywhere before it leaves the table fully
           OLD (staged files are unreferenced until the manifest swap).
        Every unhit file stays live and byte-identical. Nothing commits
        when nothing is hit and there is nothing to insert. Returns the
        number of files rewritten."""
        real = self._path(table)
        with self._rewrite_lock(table):
            snap = self._snapshot(table)
            candidates = [f for f in snap.files if may(f, snap.stats.get(f))]
            touched: list[str] = []
            if candidates:
                scan = self._read_files(table, candidates).withColumn(
                    "_zest_file", F.input_file_name()
                )
                rows = hit(scan).select("_zest_file").distinct().collect()
                touched = sorted(self._rel_of_uri(real, r[0]) for r in rows)
            if not touched and inserts is None:
                return 0
            adds: list[str] = []
            if touched:
                survivors = keep(self._read_files(table, touched))
                adds += self._stage_move(
                    table, survivors, partition_cols, rewrite=True
                )
            if inserts is not None:
                adds += self._stage_move(table, inserts, partition_cols)
            self._commit(table, adds=adds, removes=touched, op=op)
        return len(touched)

    def _write_local(self, table: str, rel_dir: str, tbl, prefix: str) -> str:
        """Driver-side parquet write of pyarrow table ``tbl`` into the
        table tree: staged as an invisible dot-file (never matched by
        readers' globs or Spark's file index), then renamed into place
        as ``<rel_dir>/<prefix>-<uuid>.snappy.parquet``. Returns the
        relpath for the caller's commit; until then the file is an
        unreferenced orphan that vacuum reclaims."""
        import pyarrow.parquet as pq

        dirpath = os.path.join(self._path(table), rel_dir)
        os.makedirs(dirpath, exist_ok=True)
        base = f"{prefix}-{uuid.uuid4().hex}.snappy.parquet"
        staged = os.path.join(dirpath, f".{base}")
        pq.write_table(tbl, staged, compression="snappy")
        os.rename(staged, os.path.join(dirpath, base))
        return f"{rel_dir}/{base}" if rel_dir else base

    def _append_log(self, table: str, rows: "list[tuple]") -> None:
        """Append to a LOG table (audit, write_log): one DRIVER-side
        pyarrow file write, staged invisibly (dot-prefixed name — never
        matched by readers' globs or Spark's file index) then renamed
        into place and published by one manifest commit. A crash at any
        point leaves only an unreferenced orphan — batch readers can
        never see a torn append; the audit OBSERVER stream watches the
        directory (files land in place; a crashed server's orphan audit
        rows are genuine events — delivering them is correct for an
        at-least-once notification feed).

        Driver-side because log batches are control-plane sized
        (usually ONE row) and ride EVERY api request: a Spark job for a
        1-row local-list DataFrame costs ~0.5 s of scheduler overhead
        at best and ~6 s under ``coalesce(1)`` (the single coalesced
        task evaluates all 32 python-RDD parent partitions SERIALLY,
        one python-worker round trip each — measured round 9, the
        dominant term in per-request latency). The parquet file pyarrow
        writes is byte-compatible with every reader here (batch reads
        pass the explicit schema, compact_log rewrites through Spark,
        the audit stream reads by glob); the BULK paths (data tables,
        compaction) stay distributed Spark writes."""
        import pyarrow as pa

        schema = _arrow_log_schema(table)
        cols = [
            pa.array([r[i] for r in rows], type=schema.field(i).type)
            for i in range(len(schema))
        ]
        rel = self._write_local(
            table, "", pa.Table.from_arrays(cols, schema=schema), "part"
        )
        self._commit(table, adds=[rel], op="append")

    def _live_files(self, table: str) -> list[str]:
        """The current manifest's live file set (empty for a table
        never written) — called by REWRITES before computing their
        removes, under the table lock. Reading it commits nothing."""
        return self._snapshot(table).files

    def history(self, table: str) -> "list[snapshots.Snapshot]":
        """The table's retained commit log, newest first (version,
        created_ms, op, live file set) — the reference reads the same
        story from `git log` on its Irmin store; Delta calls it
        DESCRIBE HISTORY. Bounded by vacuum's manifest retention."""
        if not self._is_manifested(table):
            raise KeyError(f"{table!r} is not under snapshot control")
        return snapshots.history(self._path(table))

    def history_df(self, table: str) -> DataFrame:
        """``history`` as a DataFrame — the analytic face of the commit
        log (version, created_ms, op, live-file and tombstone counts),
        joinable against ``write_log`` provenance. Control-plane sized:
        one row per retained manifest."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("version", T.LongType(), False),
                T.StructField("created_ms", T.LongType(), False),
                T.StructField("op", T.StringType(), True),
                T.StructField("n_files", T.LongType(), False),
                T.StructField("n_tombstones", T.LongType(), False),
            ]
        )
        rows = [
            (s.version, s.created_ms, s.op or None, len(s.files), len(s.tombstones))
            for s in self.history(table)
        ]
        return self.spark.createDataFrame(rows, schema)

    def restore(self, table: str, version: int) -> "snapshots.Snapshot":
        """Roll the table back to a past snapshot as a NEW commit
        (Delta's RESTORE; `git revert` on the reference's store —
        history is never rewritten, the rollback is itself a commit
        and can be rolled back again). Fails loudly if the target
        version's manifest or any of its files were already reclaimed
        by vacuum. Takes the rewrite lock: a restore races with
        rewrites like any other rewrite."""
        if not self._is_manifested(table):
            raise KeyError(f"{table!r} is not under snapshot control")
        with self._rewrite_lock(table):
            target = self._pinned(table, version, "restorable")
            live = set(self._live_files(table))
            want = set(target.files)
            snap = self._commit(
                table,
                adds=sorted(want - live),
                removes=sorted(live - want),
                op="restore",
            )
        self._log_write(table, None)
        return snap

    def clone_table(
        self, table: str, dest: "ZestStore", version: Optional[int] = None
    ) -> "snapshots.Snapshot":
        """SHALLOW CLONE (Delta's nomenclature): materialize this
        table — optionally AS OF a past ``version`` — in ``dest`` by
        hard-linking the snapshot's live data files and publishing a
        fresh version-0 manifest over them. O(files) metadata work,
        zero data copied (copy fallback only across filesystems); the
        cheap backup/branching primitive (`git worktree` on the
        reference's store).

        The clone and the source are fully independent afterwards:
        every write path in this engine creates NEW files (parquet
        files are immutable — appends, rewrites, compactions all
        stage-and-commit fresh files), so neither side can ever
        modify bytes the other reads, and vacuum only unlinks its own
        directory entries (the inode survives while the other side's
        link exists)."""
        if table not in _TABLES and self._generic_entry(table) is None:
            raise KeyError(table)
        if dest._exists(table):
            raise BadRequest(
                f"clone target already has data for {table!r} — clone "
                "only into an empty table"
            )
        src_dir = self._path(table)
        if version is not None:
            snap = self._pinned(table, version, "clonable")
        else:
            snap = self._snapshot(table)
        files = list(snap.files)
        dst_dir = dest._path(table)
        if self._generic_entry(table) is not None:
            # the clone must be self-describing too: carry the meta
            # (schema + stats choice) and register it on the dest
            os.makedirs(dst_dir, exist_ok=True)
            dest._publish_meta(table, self._read_meta(table))
        for rel in files:
            src = os.path.join(src_dir, rel)
            dst = os.path.join(dst_dir, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:  # cross-device (EXDEV) or FS without links
                shutil.copy2(src, dst)
        stats = {rel: snap.stats[rel] for rel in files if rel in snap.stats}
        return snapshots.commit(
            dst_dir, adds=files, op="clone", stats=stats or None
        )

    def _read_files(self, table: str, files: "list[str]") -> DataFrame:
        """Full-read-schema frame over an explicit file subset of a
        table — the one parquet scan of a file list (manifest reads,
        rewrites, compactions, the churned files of ``changes``).
        Partition columns come back from the relpaths (``basePath``)."""
        schema = self._read_schema(table)
        if not files:
            return _empty_df(self.spark, schema)
        path = self._path(table)
        scan_schema, restore = self._scan_schema(table, schema)
        return restore(
            self.spark.read.schema(scan_schema)
            .option("basePath", path)
            .parquet(*[os.path.join(path, f) for f in files])
        )

    def changes(
        self, table: str, from_version: int, to_version: Optional[int] = None
    ) -> DataFrame:
        """NET row-level change feed between two snapshot versions
        (Delta's collapsed change data feed): canonical columns plus a
        ``_change_type`` of ``insert`` or ``delete``. The incremental-
        pipeline primitive — a downstream consumer processes only what
        changed since the version it last saw, never rescanning the
        table.

        Cost ∝ CHURNED files only: the endpoint manifests are diffed,
        and only files added or removed across the range are read.
        Rows a rewrite merely re-materialized (delete survivors,
        compaction output) appear bit-identically in both the added
        and removed file sets, so the multiset difference
        (``exceptAll``) cancels them exactly (the diff is NET table
        content: a delete+identical-reinsert inside the range
        correctly nets to nothing); an
        append-only range short-circuits to a plain scan of the new
        files with no comparison at all. Both endpoint versions must
        still be within vacuum's retention (loud refusal otherwise,
        like time travel)."""
        if not self._is_manifested(table):
            raise BadRequest(f"{table!r} is not under snapshot control")
        path = self._path(table)
        snaps = {}
        for v in (from_version, to_version):
            if v is None:
                snap = self._snapshot(table)
            else:
                snap = snapshots.read_version(path, v)
                if snap is None:
                    raise BadRequest(
                        f"{table!r} has no readable version {v} "
                        "(never committed, or pruned by vacuum)"
                    )
            snaps[v] = snap
        a, b = snaps[from_version], snaps[to_version]
        if b.version < a.version:
            raise BadRequest(
                f"changes: from_version {a.version} is newer than "
                f"to_version {b.version} (use restore() to roll back)"
            )
        added = sorted(set(b.files) - set(a.files))
        removed = sorted(set(a.files) - set(b.files))
        gone = [
            f
            for f in (*added, *removed)
            if not os.path.exists(os.path.join(path, f))
        ]
        if gone:
            raise BadRequest(
                f"changes {a.version}->{b.version} of {table!r} are no longer "
                f"readable: {len(gone)} churned files were reclaimed by "
                f"vacuum (first: {gone[0]!r})"
            )
        cols = [f.name for f in self._schema_of(table).fields]
        new_rows = self._read_files(table, added).select(*cols)
        old_rows = self._read_files(table, removed).select(*cols)
        if not removed:  # append-only range: every new-file row inserts
            inserts, deletes = new_rows, old_rows
        else:
            inserts = new_rows.exceptAll(old_rows)
            deletes = old_rows.exceptAll(new_rows)
        return inserts.withColumn("_change_type", F.lit("insert")).unionAll(
            deletes.withColumn("_change_type", F.lit("delete"))
        )

    def vacuum(
        self,
        table: str,
        retention_s: float = snapshots.DEFAULT_RETENTION_S,
        dry_run: bool = False,
    ):
        """Physically reclaim tombstoned files and crashed-writer
        orphans older than ``retention_s`` (the Delta VACUUM contract:
        readers pinned to a snapshot newer than the retention window
        are safe; see snapshots.vacuum for the append-orphan floor).
        ``dry_run=True`` returns the (tombstones, orphans) counts that
        WOULD be reclaimed without deleting anything.

        Orphan reclaim is SKIPPED while the table's rewrite lock is
        held: a long-staging rewrite (compact/merge/delete at scale)
        moves files into the tree well before its commit, and an
        unreferenced-but-about-to-be-committed file must never be
        vacuum bait — the maintenance thread (serve.py) runs vacuum
        concurrently with rewriters, so liveness of staged files is
        only decidable when no rewrite is in flight. Tombstone reclaim
        is safe either way (tombstoned files are never re-referenced)."""
        if not self._is_manifested(table):
            raise KeyError(f"{table!r} is not under snapshot control")
        rewriting = coordination.get_coordinator().is_held(
            os.path.join(self.root, f".lock_{table}")
        )
        if not dry_run and not rewriting:
            # a kill-9 mid-_stage_move leaves a `.stage_<table>_*` dir
            # at the store root (its finally never ran) — invisible to
            # readers. Liveness comes from the pid-owned `.owner`
            # sidecar _stage_move writes BEFORE staging: owner alive →
            # never reclaim (a straggler task may legitimately go
            # quiet past any mtime floor while its job still owns the
            # tree — an mtime heuristic here once risked silently
            # dropping that task's rows); owner dead → reclaim now.
            # Markerless trees (pre-marker crashes) fall back to the
            # conservative newest-mtime floor.
            floor = max(retention_s, snapshots.ORPHAN_MIN_AGE_S)
            cutoff = time.time() - floor
            for name in os.listdir(self.root):
                if not name.startswith(f".stage_{table}_") or name.endswith(
                    ".owner"
                ):
                    continue
                full = os.path.join(self.root, name)
                owner_file = f"{full}.owner"
                try:
                    parts = open(owner_file).read().split(None, 1)
                    pid = int(parts[0]) if parts else 0
                    owner_host = parts[1].strip() if len(parts) > 1 else ""
                except (OSError, ValueError):
                    pid, owner_host = 0, ""
                if pid and owner_host == coordination.host_id():
                    # the pid probe is only evidence on the host that
                    # recorded it (ADVICE r9): a foreign host's probe
                    # answers an unrelated process table and would
                    # rmtree a LIVE remote writer's staging tree
                    if coordination._pid_alive(pid):
                        continue  # live writer — hands off
                    shutil.rmtree(full, ignore_errors=True)
                    with contextlib.suppress(OSError):
                        os.unlink(owner_file)
                    continue
                # markerless (pre-marker crash), legacy pid-only, or
                # FOREIGN-host owner: the conservative newest-mtime
                # floor is the only cross-host-safe liveness signal
                try:
                    newest = os.path.getmtime(full)
                    for dirpath, _dirs, names in os.walk(full):
                        newest = max(newest, os.path.getmtime(dirpath))
                        for f in names:
                            newest = max(
                                newest,
                                os.path.getmtime(os.path.join(dirpath, f)),
                            )
                except OSError:
                    # entries changing under the walk = a LIVE
                    # writer; never reclaim on partial evidence
                    continue
                if newest <= cutoff:
                    shutil.rmtree(full, ignore_errors=True)
                    with contextlib.suppress(OSError):
                        os.unlink(owner_file)
        return snapshots.vacuum(
            self._path(table),
            retention_s,
            dry_run=dry_run,
            reclaim_orphans=not rewriting,
        )

    def version_at(self, table: str, ts_ms: int) -> int:
        """The snapshot version that was live at wall-clock ``ts_ms``
        (Delta's TIMESTAMP AS OF, resolved against the retained commit
        log): the newest version whose commit time is ≤ the ask. Fails
        loudly when the ask predates the oldest retained manifest —
        vacuum prunes history, same contract as version reads."""
        older = [
            s for s in self.history(table) if s.created_ms <= int(ts_ms)
        ]  # history() is newest-first
        if not older:
            raise BadRequest(
                f"{table!r} has no retained snapshot at or before "
                f"{ts_ms} (history starts later, or vacuum pruned it)"
            )
        return older[0].version

    def table_stats(self, table: str) -> dict:
        """O(manifest) table summary — files, bytes, rows, and the
        stats columns' global min/max — without touching a single data
        file's contents (bytes come from inode sizes, everything else
        from the manifest's per-file footer stats). ``rows`` is None
        when any live file predates stats collection (unknowable
        without a scan — never guessed)."""
        if not self._is_manifested(table):
            raise KeyError(f"{table!r} is not under snapshot control")
        snap = self._snapshot(table)
        root = self._path(table)
        n_bytes = 0
        for rel in snap.files:
            with contextlib.suppress(OSError):
                n_bytes += os.path.getsize(os.path.join(root, rel))
        rows: Optional[int] = 0
        mins: dict = {}
        maxs: dict = {}
        for rel in snap.files:
            st = snap.stats.get(rel)
            if st is None or st.get("rows") is None:
                rows = None
            elif rows is not None:
                rows += st["rows"]
            if st:
                for col, v in (st.get("min") or {}).items():
                    if v is not None and (col not in mins or v < mins[col]):
                        mins[col] = v
                for col, v in (st.get("max") or {}).items():
                    if v is not None and (col not in maxs or v > maxs[col]):
                        maxs[col] = v
        mapping = self._column_mapping(table)
        if mapping:  # stats keys are physical; callers speak logical
            inv = {p: l for l, p in mapping.items()}
            mins = {inv.get(c, c): v for c, v in mins.items()}
            maxs = {inv.get(c, c): v for c, v in maxs.items()}
        if self._generic_entry(table) is not None:
            # old manifests may carry stats for since-dropped columns'
            # physicals — never leak those past the logical surface
            logical = {f.name for f in self._generic[table]["schema"].fields}
            mins = {c: v for c, v in mins.items() if c in logical}
            maxs = {c: v for c, v in maxs.items() if c in logical}
        return {
            "version": snap.version,
            "n_files": len(snap.files),
            "n_tombstones": len(snap.tombstones),
            "bytes": n_bytes,
            "rows": rows,
            "min": mins,
            "max": maxs,
        }

    # ------------------------------------------------------------- writes

    def _append_ts(
        self,
        table: str,
        rows: DataFrame,
        n_rows: Optional[int],
        txn: "tuple[str, int] | None" = None,
    ) -> None:
        """Append a batch, stamped with the write_id of its provenance
        row — every data row joins back to (who, method, path, when),
        like every Irmin commit carries Prov.info
        (src/timeseries/shard.re:9-11, src/prov.re:38-46). Data lands
        BEFORE the log row (see _log_write's invariant); a crash in
        between leaves stamped rows whose write_id has no log entry —
        detectable and re-appendable, never silently lost.

        ``txn=(app_id, n)`` rides the SAME manifest commit as the data
        files (snapshots.commit), so an idempotent writer (streaming
        ingest) can prove batch ``n`` landed no matter where a crash
        fell — the write_log row is provenance, never the
        commit-or-not oracle."""
        wid = self._next_write_id()
        # cast to the canonical schema first: appending a frame with a
        # mismatched physical type (INT value, reordered columns) would
        # poison every later read of the whole table (same guard as
        # kv_ingest_bulk). The same projection rejects rows with no
        # partition key: a null/empty series_id or a null timestamp
        # would land in a __HIVE_DEFAULT_PARTITION__ leaf (read back as
        # NULL, with no stats), so the write job fails instead — no
        # extra pass over the input, and nothing is committed
        rows = rows.select(*[_guard_ts_key(f) for f in _TABLES[table].fields])
        stamped = (
            rows.withColumn("time_bucket", F.col("timestamp") / _DAY_MS)
            .withColumn("time_bucket", F.col("time_bucket").cast("long"))
            .withColumn("write_id", F.lit(wid))
        )
        # stage + commit: the whole batch becomes visible in ONE
        # manifest publish (an atomic multi-partition append — a crash
        # mid-append leaves invisible orphans, never a partial batch),
        # and concurrent appends merge through the commit CAS without
        # taking the rewrite lock (appends commute)
        try:
            adds = self._stage_move(table, stamped, ("series_id", "time_bucket"))
        except SparkRuntimeException as e:
            if _BAD_TS_KEY in str(e):
                raise BadRequest(_BAD_TS_KEY) from None
            raise
        self._commit(table, adds=adds, op="append", txn=txn)
        self._log_write(table, n_rows, wid)

    def _append_ts_local(
        self, table: str, rows: "list[tuple]", n_rows: Optional[int]
    ) -> None:
        """Driver-side fast path for per-request TS appends (S1/S2/S3:
        one row per POST, the reference's hottest op): the SAME
        stage/commit contract as ``_append_ts`` — write-id stamp, daily
        partition dirs, one atomic manifest publish, provenance row
        after — but the parquet file is written by pyarrow on the
        driver instead of scheduling a Spark job for one row (which
        costs ~0.6-0.8 s of scheduler + python-worker overhead; the
        file write is ~10 ms). ``rows`` are canonical-schema tuples
        (series_id first). Partition dir names replicate Hive's
        ``escapePathName`` byte-for-byte (``_escape_part``) so fast-path
        and bulk appends to one series land in ONE physical partition.
        Bulk ingest stays on the distributed path — this is for
        control-plane-sized batches only."""
        import pyarrow as pa

        if any(not r[0] for r in rows):
            # an empty partition value has NO faithful physical form:
            # Hive/Spark map both null and "" to __HIVE_DEFAULT_PARTITION__
            # and read them back as NULL — lossy on BOTH paths, so
            # reject loudly instead of splitting or corrupting a series
            # (a reference URI path cannot carry an empty segment anyway)
            raise BadRequest("series id must be non-empty")
        wid = self._next_write_id()
        fields = _TABLES[table].fields
        assert fields[0].name == "series_id" and fields[1].name == "timestamp"
        schema = _arrow_ts_local_schema(table)
        groups: dict[tuple, list[tuple]] = {}
        for r in rows:
            groups.setdefault((r[0], _bucket_of(r[1])), []).append(r)
        adds = []
        for (sid, bucket), grp in sorted(groups.items()):
            rel_dir = f"series_id={_escape_part(sid)}/time_bucket={bucket}"
            # data columns = canonical schema minus the partition
            # columns (they live in the dir name, exactly like a
            # Spark partitioned write), plus the write_id stamp
            cols = [
                pa.array([g[i] for g in grp], type=schema.field(i - 1).type)
                for i in range(1, len(fields))
            ]
            cols.append(pa.array([wid] * len(grp), type=pa.int64()))
            tbl = pa.Table.from_arrays(cols, schema=schema)
            adds.append(self._write_local(table, rel_dir, tbl, "part"))
        # a failed commit leaves the renamed part-* files as ORPHANS for
        # vacuum — never unlink them here: they are already visible to
        # the data-observe stream's part-* glob (the documented
        # at-least-once contract), and yanking a file an observer
        # micro-batch has listed but not read would kill its query.
        # A crash before any rename leaves only dotfiles (also vacuumed).
        self._commit(table, adds=adds, op="append")
        self._log_write(table, n_rows, wid)

    def write_numeric(
        self, series_id: str, payload: Any, timestamp: Optional[int] = None
    ) -> int:
        """S1/S2: validate + stamp + append. Returns the timestamp."""
        value, tag_name, tag_value = validate_numeric(payload)
        ts = now_ms() if timestamp is None else int(timestamp)
        self._append_ts_local(
            "ts_numeric", [(series_id, ts, float(value), tag_name, tag_value)], 1
        )
        return ts

    def write_numeric_bulk(
        self, rows: DataFrame, txn: "tuple[str, int] | None" = None
    ) -> None:
        """Bulk ingest (ts_numeric-shaped frame, already validated
        upstream) — the 100 TB path: one distributed append, daily
        partitions, ONE provenance row for the whole batch (n_rows is
        left NULL rather than forcing a second pass over the input).
        ``txn=(app_id, n)`` makes the append idempotent per app/batch
        (see _append_ts / last_txn_version)."""
        self._append_ts("ts_numeric", rows, None, txn=txn)

    def last_txn_version(self, table: str, app_id: str) -> Optional[int]:
        """The highest batch number ``app_id`` ever committed into
        ``table`` with ``txn=``, or None — read from the current
        manifest (Delta's ``txnVersion``/``txnAppId`` lookup). The
        answer and the data it vouches for come from ONE atomic
        record, which is the whole exactly-once argument."""
        if not self._is_manifested(table):
            raise KeyError(f"{table!r} is not under snapshot control")
        return self._snapshot(table).txns.get(app_id)

    def write_blob(
        self, series_id: str, payload: Any, timestamp: Optional[int] = None
    ) -> int:
        """S3: any-JSON append."""
        try:
            data = json.dumps(payload)
        except (TypeError, ValueError) as e:
            raise BadRequest("blob TS payload must be JSON-serializable") from e
        ts = now_ms() if timestamp is None else int(timestamp)
        self._append_ts_local("ts_blob", [(series_id, ts, data)], 1)
        return ts

    #: merge_rows collects the update batch's distinct series only while
    #: the set is small enough to serve as a useful pruning hint; past
    #: this the hint degrades to the timestamp bounds alone (never an
    #: unbounded driver collect).
    _MERGE_SERIES_HINT_CAP = 4096

    def merge_rows(self, table: str, updates: DataFrame) -> int:
        """Keyed MERGE (upsert) into a TS table — Delta's ``MERGE WHEN
        MATCHED THEN UPDATE / WHEN NOT MATCHED THEN INSERT`` with
        whole-row replacement on the natural key ``(series_id,
        timestamp)``: every live row whose key appears in ``updates``
        is replaced by the update rows, every other update row is
        inserted, all in ONE atomic snapshot commit. Duplicate keys are
        well-defined on both sides: all matched live rows are removed,
        all update rows land (replace-by-key, the KV upsert contract
        lifted to TS — the reference corrects a bad point by writing at
        its explicit timestamp, src/server.re:832-858 'at' route).

        Scale shape (the Delta MERGE recipe, cost ∝ touched files +
        update batch, never table size):
        1. the update batch's key bounds — min/max timestamp plus the
           series set when small — prune the manifest to CANDIDATE
           files through the same stats/partition checks as read-side
           data skipping (``_file_may_match``);
        2. only candidates that contain an ACTUALLY matched key are
           rewritten (an ``input_file_name`` semi-join narrows the
           churn to provably-hit files);
        3. the survivor rewrite (``rw-*``, maintenance — observers
           stay quiet) and the inserted batch (``part-*``, a genuine
           append observers should see) publish in one commit; a crash
           anywhere before it leaves the table fully OLD (staged files
           are unreferenced until the manifest swap).

        Returns the number of data files rewritten."""
        if table not in ("ts_numeric", "ts_blob"):
            raise KeyError(f"merge_rows targets TS tables, not {table!r}")
        fields = _TABLES[table].fields
        updates = updates.select(*[F.col(f.name).cast(f.dataType) for f in fields])
        if updates.isEmpty():
            return 0
        updates = updates.persist()
        try:
            lo, hi = updates.agg(F.min("timestamp"), F.max("timestamp")).first()
            sids = updates.select("series_id").distinct()
            sample = sids.limit(self._MERGE_SERIES_HINT_CAP + 1).collect()
            series = (
                {r[0] for r in sample}
                if len(sample) <= self._MERGE_SERIES_HINT_CAP
                else None
            )
            key_cols = ["series_id", "timestamp"]
            keys = updates.select(*key_cols).distinct()
            # an id taken here but never committed only leaves a gap in
            # write_log, which _log_write's invariant already allows
            wid = self._next_write_id()
            stamped = updates.withColumn(
                "time_bucket", (F.col("timestamp") / _DAY_MS).cast("long")
            ).withColumn("write_id", F.lit(wid))
            n_files = self._rewrite_hits(
                table,
                "merge",
                lambda rel, st: self._file_may_match(rel, st, lo, hi, series),
                lambda df: df.join(keys, key_cols, "semi"),
                lambda df: df.join(keys, key_cols, "left_anti"),
                inserts=stamped,
                partition_cols=("series_id", "time_bucket"),
            )
            self._log_write(table, None, wid)
            return n_files
        finally:
            updates.unpersist()

    @staticmethod
    def _rel_of_uri(table_path: str, uri: str) -> str:
        """Manifest relpath of an ``input_file_name()`` URI — reverse
        the file-URI escaping (Hive-escaped partition dir names like
        ``series_id=a%3Db`` contain ``%``, which the URI layer escapes
        AGAIN as ``%25``; unquoting the URI path restores the on-disk
        name exactly)."""
        p = urlparse(uri)
        return os.path.relpath(unquote(p.path), table_path)

    def _overwrite(self, table: str, df: DataFrame) -> None:
        """Whole-table rewrite (catalog only — href-keyed, control-plane
        sized). Stage the replacement, then one commit swaps the whole
        live set: a lazy plan pinned to the old snapshot keeps reading
        its (tombstoned, still present) files."""
        old = self._live_files(table)
        adds = self._stage_move(table, df, rewrite=True)
        self._commit(table, adds=adds, removes=old, op="overwrite")

    def _replace_namespaces(
        self, table: str, rows: DataFrame, ids=None, op: str = "upsert"
    ) -> None:
        """Replace whole ``id=`` namespaces of an id-partitioned KV
        table with ``rows``: the namespaces in ``ids`` (default: every
        namespace ``rows`` writes) lose their live files, every other
        namespace's files stay live and byte-identical (the reference's
        per-namespace git tree writes; MERGE INTO on a real table
        format). Runs under the caller's rewrite lock.

        Crash contract: the staged replacement is invisible until the
        single manifest commit, which atomically swaps the namespaces'
        old files for the new — a crash at ANY point leaves each
        namespace fully old or fully new, never absent and never
        mixed. An emptied namespace (delete_all / last-key delete) is
        just a commit with no adds."""
        live = self._live_files(table)
        adds = self._stage_move(table, rows, ("id",), rewrite=True)
        if ids is None:
            ids = {snapshots.rel_parts(rel).get("id") for rel in adds}
        removes = [rel for rel in live if snapshots.rel_parts(rel).get("id") in ids]
        self._commit(table, adds=adds, removes=removes, op=op)

    def _kv_local_rewrite(self, table: str, id_: str, mutate, op: str) -> bool:
        """Driver-side fast path for ONE namespace's read-modify-write
        (kv_upsert / kv_delete): the namespace's live files resolve
        from the manifest, their rows LWW-fold into a dict, ``mutate``
        edits it, and the survivors publish as one ``rw-*`` file in the
        SAME atomic commit shape as the distributed rewrite — same
        partition naming, same crash contract (staged file invisible
        until the commit), same observer silence (rw-* is excluded from
        the append glob). Runs under the caller's rewrite lock.

        Returns False — caller falls back to the Spark rewrite — when
        the namespace exceeds the driver budget.

        Why it exists: a per-request Spark namespace rewrite pays
        ~1-2 s of job overhead to move a handful of KB (measured round
        9); the reference serves the same op in ms. At cluster scale
        the semantics are MERGE INTO — this fast path is the
        single-row MERGE special case every table format special-cases
        the same way (Delta's low-shuffle merge)."""
        old = [
            rel
            for rel in self._live_files(table)
            if snapshots.rel_parts(rel).get("id") == id_
        ]
        return self._local_fold_rewrite(
            table,
            f"id={_escape_part(id_)}",
            old,
            _arrow_kv_local_schema(table),
            mutate,
            op,
        )

    def _local_fold_rewrite(
        self, table: str, rel_dir: str, files, schema, mutate, op: str
    ) -> bool:
        """Shared body of the driver-side single-row MERGE fast paths
        (KV namespaces, catalog): LWW-fold ``files``' two columns (the
        key and value of pyarrow ``schema``) into a dict, let ``mutate``
        edit it, and publish the result — sorted by key, one ``rw-*``
        file under ``rel_dir``, or no file for an emptied target — in
        ONE atomic commit that removes ``files``. On commit failure the
        replacement file is unlinked — safe because an uncommitted
        ``rw-*`` file is referenced by no manifest and excluded from
        every observer glob (unlike appends' ``part-*`` orphans, which
        must be left for vacuum).

        Returns False, touching nothing, when ``files`` exceed the
        driver budget or one vanished (racing maintenance): the caller
        takes its distributed rewrite instead."""
        paths = self._driver_paths(table, files)
        if paths is None:
            return False
        import pyarrow as pa
        import pyarrow.parquet as pq

        real = self._path(table)
        key, value = schema.names
        current: dict = {}
        for path in paths:
            t = pq.read_table(path, columns=[key, value])
            current.update(
                zip(t.column(key).to_pylist(), t.column(value).to_pylist())
            )
        mutate(current)
        adds: list[str] = []
        if current:
            items = sorted(current.items())  # deterministic file layout
            tbl = pa.Table.from_arrays(
                [
                    pa.array([k for k, _ in items], type=schema.field(0).type),
                    pa.array([v for _, v in items], type=schema.field(1).type),
                ],
                schema=schema,
            )
            adds.append(self._write_local(table, rel_dir, tbl, "rw"))
        try:
            self._commit(table, adds=adds, removes=files, op=op)
        except BaseException:
            for rel in adds:
                with contextlib.suppress(OSError):
                    os.unlink(os.path.join(real, rel))
            raise
        return True

    def kv_upsert(self, kind: str, id_: str, key: str, value: Any) -> None:
        """S4: LWW upsert at (id, key) — src/keyvalue/keyvalue.re:14-20.
        Rewrites only the touched namespace partition (driver-side when
        the namespace is control-plane sized, distributed otherwise)."""
        table = f"kv_{kind}"
        from zestdb_spark.operators import kv as kv_ops

        if not id_:
            # see _append_ts_local: an empty partition value reads back
            # as NULL on every path — reject, don't corrupt
            raise BadRequest("kv namespace id must be non-empty")
        # the lock spans the read-modify-write: serializing only the
        # swap would still let two upserts read the same base state
        with self._rewrite_lock(table):
            if not self._kv_local_rewrite(
                table, id_, lambda cur: cur.__setitem__(key, value), "upsert"
            ):
                updates = self.spark.createDataFrame(
                    [(id_, key, value)], _TABLES[table]
                )
                ns = self.load(table).filter(F.col("id") == id_)
                self._replace_namespaces(table, kv_ops.upsert(ns, updates), {id_})
        self._log_write(table, 1)

    def kv_ingest_bulk(self, kind: str, rows: DataFrame) -> None:
        """Bulk KV load ((id, key, value) frame, duplicates pre-collapsed
        upstream) — the 100 TB load path: one distributed id-partitioned
        write and ONE provenance row, vs per-key ``kv_upsert``'s one
        namespace rewrite per call. Namespaces present in the batch are
        replaced wholesale (a bulk load is the authoritative snapshot of
        those namespaces — the reference's whole-tree import); absent
        namespaces keep their files byte-identical."""
        table = f"kv_{kind}"
        if table not in _TABLES:
            raise KeyError(table)
        # cast to the canonical schema so a frame with (say) an INT value
        # column can't write type-mismatched parquet that poisons every
        # later load(); an uncastable column fails HERE, before any
        # namespace is replaced (the tmp write precedes promotion)
        sel = rows.select(
            *[F.col(f.name).cast(f.dataType) for f in _TABLES[table].fields]
        )
        with self._rewrite_lock(table):
            self._replace_namespaces(table, sel)
        self._log_write(table, None)

    def kv_delete(self, kind: str, id_: str, key: Optional[str] = None) -> None:
        """D3: delete key or whole id namespace (namespace-scoped)."""
        from zestdb_spark.operators import kv as kv_ops

        table = f"kv_{kind}"
        if not id_ or not self._exists(table):
            return  # empty namespaces can never have been written

        def mut(cur: dict) -> None:
            if key is None:
                cur.clear()
            else:
                cur.pop(key, None)

        with self._rewrite_lock(table):
            if not self._kv_local_rewrite(table, id_, mut, "delete"):
                ns = self.load(table).filter(F.col("id") == id_)
                self._replace_namespaces(
                    table, kv_ops.delete(ns, id_, key), {id_}, op="delete"
                )
        self._log_write(table, None)

    def catalog_upsert(self, item: dict) -> None:
        """S5/M2: validate + upsert by href (src/hc.re:43-51). The
        catalog is href-keyed and control-plane sized, so the upsert
        runs driver-side (same single-row-MERGE fast path as KV —
        pyarrow read of the live files, replace by href, one rw-* file,
        one overwrite commit) under the same budget, falling back to
        the distributed rewrite past it."""
        from zestdb_spark.operators import catalog as cat_ops

        cat_ops.validate_item(item)
        with self._rewrite_lock("catalog_items"):
            if not self._catalog_local_upsert(cat_ops.item_row(item)):
                self._overwrite(
                    "catalog_items",
                    cat_ops.upsert_item(self.load("catalog_items"), item),
                )
        self._log_write("catalog_items", 1)

    def _catalog_local_upsert(self, row: "tuple[str, list]") -> bool:
        """Driver-side catalog upsert-by-href: fold the live files into
        an href-keyed dict, replace one entry, publish ONE rw-* file in
        an atomic whole-table overwrite commit (``_local_fold_rewrite``,
        shared with the KV namespaces: same crash contract and budget
        fallback)."""
        table = "catalog_items"
        href, pairs = row
        md = [{"rel": r, "val": v} for r, v in pairs]
        return self._local_fold_rewrite(
            table,
            "",
            self._live_files(table),
            _arrow_log_schema(table),
            lambda cur: cur.__setitem__(href, md),
            "overwrite",
        )

    def ts_delete(self, plan, compat_collateral: bool = False) -> None:
        """D1: window DELETE through the table format's one row-level
        rewrite (``_rewrite_hits``): the window's series and bounds
        prune the live files by relpath partition and manifest stats,
        only the files holding a deleted row are rewritten, and every
        other file stays live and byte-identical (asserted by
        tests/test_durability.py). The swap is ONE manifest commit, so
        the delete lands cross-partition-atomically and a crash before
        it leaves the table fully old; a delete that hits no row
        commits nothing. ``compat_collateral`` partners share the
        matched row's (series, timestamp), so they sit inside the same
        pruning window and the hit semi-join finds them in any file."""
        from zestdb_spark.operators import ts_delete as del_ops

        table = "ts_numeric" if plan.store == "numeric" else "ts_blob"
        if plan.window.op not in ("since", "range") or plan.agg is not None:
            # raise the reference's 134 before touching any file
            del_ops.delete_plan(self.load(table), plan, compat_collateral)
            return
        if not self._exists(table):
            return
        w = plan.window
        until = w.to_ms if w.op == "range" else None
        ids = set(plan.ids)
        self._rewrite_hits(
            table,
            "delete",
            lambda rel, st: self._file_may_match(rel, st, w.from_ms, until, ids),
            lambda df: del_ops.deleted_rows(df, plan, compat_collateral),
            lambda df: del_ops.delete_plan(df, plan, compat_collateral),
            partition_cols=("series_id", "time_bucket"),
        )
        self._log_write(table, None)

    def compact(
        self,
        table: str,
        target_files: int = 1,
        vacuum_retention_s: float = 0.0,
        series=None,
        since_ms: Optional[int] = None,
        until_ms: Optional[int] = None,
        target_bytes: Optional[int] = None,
    ) -> int:
        """S7 maintenance: merge each (series_id, time_bucket) leaf
        partition's small files down to ``target_files`` — the
        reference's shard overlap-merge (timeseries.re:64-111), which
        its write path runs whenever a flushed buffer overlaps existing
        shards; here it's an explicit OPTIMIZE-style pass (per-write
        appends accumulate one file per request, like one git commit
        per shard write).

        ``vacuum_retention_s=0`` (default) reclaims the replaced
        byte-duplicates immediately; pass a positive retention to keep
        them, which preserves time travel / ``changes()`` readability
        across the compaction boundary (Delta's documented
        VACUUM-breaks-CDF hazard, same trade).

        Partition-scoped like ts_delete: only leaves with more than
        ``target_files`` data files are re-read and atomically swapped;
        everything else stays byte-identical. Row content (including
        provenance stamps) is preserved verbatim. Returns the number of
        leaves compacted.

        ``series``/``since_ms``/``until_ms`` SCOPE the maintenance to
        matching leaves (Delta's ``OPTIMIZE ... WHERE``): at 100 TB the
        nightly job compacts yesterday's hot partitions, not the whole
        table — the window bounds select whole day-buckets
        (conservatively: any leaf the inclusive window overlaps).

        ``target_bytes`` switches the per-leaf sizing from a fixed
        file COUNT to a target file SIZE (Delta's
        ``maxFileSize`` / OPTIMIZE bin-packing posture): each leaf
        merges to ``ceil(leaf_bytes / target_bytes)`` files, so big
        leaves keep parallel, roughly-target-sized files instead of
        one giant one, and already-well-packed leaves are skipped."""
        if table not in ("ts_numeric", "ts_blob"):
            raise KeyError(f"compact targets TS tables, not {table!r}")
        series = None if series is None else set(series)
        if not self._exists(table):
            return 0
        real = self._path(table)
        with self._rewrite_lock(table):
            live = self._live_files(table)
            leaves: dict[str, list[str]] = {}
            for rel in live:
                leaves.setdefault(os.path.dirname(rel), []).append(rel)
            done = 0
            adds: list[str] = []
            removes: list[str] = []
            for leaf_rel, files in sorted(leaves.items()):
                # scope first: a scoped run never stats out-of-scope
                # leaves (the leaf's partition values decide, no stats)
                if not leaf_rel or not self._file_may_match(
                    f"{leaf_rel}/x", None, since_ms, until_ms, series
                ):
                    continue
                n_out = target_files
                if target_bytes is not None:
                    leaf_bytes = sum(
                        os.path.getsize(os.path.join(real, f)) for f in files
                    )
                    n_out = max(1, -(-leaf_bytes // target_bytes))
                if len(files) <= n_out:
                    continue
                # CLUSTER while merging: range-partition + sort by
                # timestamp, so the output files carry tight, DISJOINT
                # timestamp min/max — manifest-stats skipping
                # (snapshots stats, including the last/first tail
                # hint), parquet row-group pruning, and the zest_tail
                # footer walk all get maximally selective bounds after
                # maintenance (Delta's OPTIMIZE ZORDER,
                # one dimension). Content is still preserved verbatim.
                # The partition columns lead the sort (constant within a
                # leaf): the partitioned write then needs no sort of its
                # own, which would drop the timestamp order.
                merged = (
                    self._read_files(table, files)
                    .repartitionByRange(n_out, "timestamp")
                    .sortWithinPartitions("series_id", "time_bucket", "timestamp")
                )
                adds += self._stage_move(
                    table, merged, ("series_id", "time_bucket"), rewrite=True
                )
                removes += files
                done += 1
            if done:
                # ONE commit swaps every compacted leaf atomically; a
                # crash anywhere before it leaves the table fully old
                # (staged files are unreferenced — rows never lost, and
                # re-running converges). The replaced files are byte-
                # duplicates of content still live, so compact — the
                # explicit OPTIMIZE-style maintenance op — reclaims
                # them (and any older tombstones) immediately; readers
                # pinned to pre-compact snapshots must finish inside
                # the vacuum retention they were promised, which an
                # immediate maintenance vacuum intentionally waives
                # (exactly Delta's OPTIMIZE + VACUUM 0 HOURS posture).
                self._commit(table, adds=adds, removes=removes, op="compact")
                self.vacuum(table, retention_s=vacuum_retention_s)
        return done

    def audit_append(self, record: tuple) -> None:
        """Append one audit row (timestamp, server, client, method,
        path, code) — src/server.re:74-107."""
        self._append_log("audit", [tuple(record)])

    def compact_log(
        self,
        table: str,
        target_files: int = 1,
        vacuum_retention_s: float = snapshots.DEFAULT_RETENTION_S,
    ) -> int:
        """OPTIMIZE for the append-only logs (audit, write_log): every
        mutation commits ONE small parquet file, so a long-lived store
        accumulates log files ∝ mutation count — at 100 TB that is
        millions of tiny files behind every provenance join. Merges the
        log's live file set down to ``target_files`` in one atomic
        manifest swap under the rewrite lock (the first rewrite these
        tables ever see — which is exactly why they needed the manifest
        first). Rows preserved verbatim; outputs stage as ``rw-*`` and
        the audit observer stream globs ``part-*``, so maintenance
        never re-notifies (same contract as TS compaction). Returns the
        number of files merged away.

        ``vacuum_retention_s`` defaults to the table format's standard
        retention — a concurrent batch reader pinned to the prior
        snapshot (or a lagging audit observer micro-batch that listed
        the old part-* files but hasn't opened them) must still find
        the pre-compaction bytes. Immediate reclaim (0.0) is an
        explicit opt-in for tests and single-process maintenance."""
        if table not in ("audit", "write_log"):
            raise KeyError(f"compact_log targets the logs, not {table!r}")
        with self._rewrite_lock(table):
            live = self._live_files(table)
            if len(live) <= max(1, int(target_files)):
                return 0
            merged = self._read_files(table, live).coalesce(
                max(1, int(target_files))
            )
            adds = self._stage_move(table, merged, rewrite=True)
            self._commit(table, adds=adds, removes=live, op="compact")
            self.vacuum(table, retention_s=vacuum_retention_s)
        return len(live)
