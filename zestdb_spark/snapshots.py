"""Snapshot manifest log: atomic cross-partition commits over parquet.

The reference gets transactional table state from git/Irmin — every
write is a commit, readers see a consistent tree, and nothing is ever
half-visible (src/timeseries/shard.re:9-11 ``Store.add``, the Irmin
repo per store). The parquet emulation in storage.py had per-PARTITION
atomicity (leaf-dir swaps) but not cross-partition snapshot isolation:
a reader overlapping a multi-partition delete could see partition A
new and partition B old. This module closes that gap with the public
table-format recipe (Delta/Iceberg, simplified to a single node):

- A table's live state is defined by a MANIFEST — a JSON file under
  ``<table>/_zest_log/`` listing every live data file (relative path).
  Readers resolve the highest version and read exactly those files;
  a table with no log yet is empty, whatever its directory holds.
  Spark ignores the ``_zest_log`` dir in any directory-based scan
  (``_``-prefixed paths are invisible to it).
- Writers stage new data files into the table tree first (unreferenced
  = invisible), then COMMIT by publishing version N+1 via
  ``os.link(tmp, final)`` — an atomic create-if-absent of a fully
  written file, so a manifest is either absent or complete, and two
  racing committers get a clean CAS conflict (FileExistsError) instead
  of a torn log. Appends retry the CAS merging their adds; rewrites
  are additionally serialized by storage.py's per-table lock.
- Removed files are TOMBSTONED in the manifest (with a removal
  timestamp), not deleted: an in-flight reader pinned to version N
  keeps reading its exact file set. ``vacuum`` physically deletes
  tombstones past a retention window and orphans (staged files whose
  commit never happened), exactly Delta's VACUUM contract.

- Retained versions double as HISTORY: each manifest records when and
  by which operation it was published (``op``), ``history`` lists the
  commit log, a reader can pin any surviving version (time travel —
  Delta's VERSION AS OF), and ``ZestStore.restore`` rolls back by
  committing an old file set forward, never rewriting the log — the
  git-like semantics the reference gets natively from Irmin (every
  write there IS a git commit). History depth is bounded by vacuum's
  manifest retention.

Version files are DELTA entries (this commit's adds/removes/stats —
O(churn) metadata) with a FULL snapshot checkpointed every
``CHECKPOINT_EVERY`` versions, version 0 included (exactly Delta's JSON
log + checkpoint recipe): append cost is independent of the table's
live file count, and resolution walks back at most one checkpoint
interval then replays forward through the same ``_apply`` fold the
committer used — writer and reader share one merge function, so
replay cannot diverge. ``vacuum`` prunes manifests only below the
checkpoint anchoring the oldest retained version, so no surviving
delta's chain ever breaks.

This module is deliberately Spark-free (pure stdlib) so the tail
source (sources/tail_source.py) can resolve snapshots inside executor
tasks without a session.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import uuid
from urllib.parse import unquote

from zestdb_spark import coordination

_LOG_DIR = "_zest_log"
_V_FMT = "v%012d.json"
_V_PREFIX = "v"
_V_SUFFIX = ".json"

#: default tombstone/orphan retention before vacuum may delete (s) —
#: long enough that any reasonable local query pinned to an old
#: snapshot has finished (Delta defaults to 7 days for multi-writer
#: clusters; a single-node store's queries are minutes, not days)
DEFAULT_RETENTION_S = 600.0

#: floor on ORPHAN age regardless of the caller's retention: a staged
#: file of an in-flight APPEND (appends are lock-free) is an orphan
#: until its commit lands, so an aggressive vacuum(retention_s=0) must
#: not eat it out from under the committer. Tombstoned files have no
#: such race — once tombstoned they are never re-referenced.
ORPHAN_MIN_AGE_S = 600.0

#: write a FULL snapshot (checkpoint) every this-many versions; the
#: versions between are DELTA entries recording only the commit's own
#: adds/removes — O(churn) metadata per commit instead of O(live
#: files), which is what makes a high-file-count table's append cost
#: independent of its size (Delta's JSON log + checkpoint.parquet
#: recipe). Resolution reads at most this many version files.
CHECKPOINT_EVERY = 16


class Snapshot:
    """One resolved manifest version."""

    __slots__ = (
        "version", "files", "tombstones", "created_ms", "op", "stats", "txns"
    )

    def __init__(
        self,
        version: int,
        files: list[str],
        tombstones: dict[str, int],
        created_ms: int = 0,
        op: str = "",
        stats: "dict[str, dict] | None" = None,
        txns: "dict[str, int] | None" = None,
    ):
        self.version = version
        self.files = files  # sorted relative paths, the live file set
        self.tombstones = tombstones  # relpath -> removal time (ms)
        self.created_ms = created_ms
        self.op = op  # what published it: append/delete/compact/...
        # per-file column statistics for manifest-level data skipping
        # (Delta/Iceberg file stats): relpath -> {"rows": n,
        # "min": {col: v}, "max": {col: v}, "nulls": {col: k}}. Only
        # files whose writer collected stats appear; a reader must
        # treat a MISSING entry as "could match anything" (files
        # committed without stats).
        self.stats = stats or {}
        # per-application transaction watermarks (Delta's idempotent
        # writes: txn appId -> highest committed version). A writer
        # that stamps its commits ``txn=(app_id, n)`` can ask "did my
        # batch n land?" from the SAME atomic record as the data files
        # — the exactly-once primitive streaming ingest rests on.
        self.txns = txns or {}


class CommitConflict(Exception):
    """Another writer published this version first (CAS miss)."""


def _log_dir(table_dir: str) -> str:
    return os.path.join(table_dir, _LOG_DIR)


def list_data_files(table_dir: str) -> list[str]:
    """Walk a directory tree for data files: the files a staged Spark
    write produced (``ZestStore._stage_move``) and vacuum's orphan
    sweep. Never a table's state — that is its manifest. ``_``/``.``
    names are skipped at every level, the same visibility rule Spark
    applies."""
    out = []
    for dirpath, dirs, names in os.walk(table_dir):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in names:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(
                    os.path.relpath(os.path.join(dirpath, f), table_dir)
                )
    return sorted(out)


def _versions(table_dir: str) -> list[int]:
    """Committed version numbers still on disk, ascending (old ones
    may have been pruned by vacuum — history is retention-bounded)."""
    try:
        names = os.listdir(_log_dir(table_dir))
    except FileNotFoundError:
        return []
    out = []
    for n in names:
        if n.startswith(_V_PREFIX) and n.endswith(_V_SUFFIX):
            with contextlib.suppress(ValueError):
                out.append(int(n[len(_V_PREFIX):-len(_V_SUFFIX)]))
    return sorted(out)


def _read_doc(table_dir: str, version: int) -> "dict | None":
    try:
        with open(os.path.join(_log_dir(table_dir), _V_FMT % version)) as f:
            return json.load(f)
    except (FileNotFoundError, NotADirectoryError):
        return None


def _apply(files, tombstones, stats, txns, delta: dict):
    """Fold ONE commit record over a resolved (files, tombstones,
    stats, txns) state → (files SET, tombstones, stats, txns). Pure
    (inputs are copied), O(record churn) beyond the copies, and shared
    by the WRITER (to compute the state it returns / checkpoints) and
    the READER (to replay delta chains) — one merge function, so replay
    can never diverge from what the committer computed. Relies on the
    state invariants every commit maintains: no live file carries a
    tombstone, and stats keys ⊆ live files."""
    files = set(files)
    tombstones = dict(tombstones)
    stats = dict(stats)
    txns = dict(txns)
    removed = delta.get("removes", ())
    now = delta.get("created_ms", 0)
    files.difference_update(removed)
    for r in removed:
        tombstones[r] = now
        stats.pop(r, None)
    for t in delta.get("drop_tombstones", ()):
        tombstones.pop(t, None)
    adds = delta.get("adds", ())
    files.update(adds)
    # a re-added file (restore to an old version) is LIVE again —
    # its tombstone must go, or a later vacuum would delete it
    for f in adds:
        tombstones.pop(f, None)
    for rel, s in (delta.get("stats") or {}).items():
        if rel in files:
            stats[rel] = s
    txn = delta.get("txn")
    if txn:
        app, n = str(txn[0]), int(txn[1])
        # watermarks only move forward — a replayed/reordered stamp
        # can never roll an app's high-water mark back
        if n > txns.get(app, -1):
            txns[app] = n
    return files, tombstones, stats, txns


def _full_state(doc: dict):
    return (
        doc["files"],
        doc.get("tombstones", {}),
        doc.get("stats", {}),
        doc.get("txns", {}),
    )


#: resolved-version cache. Version files are IMMUTABLE once linked
#: into the log (the CAS create-if-absent guarantees it), so a
#: resolved Snapshot can be reused freely within the process; a hit
#: only re-checks that vacuum hasn't pruned the version file. Sized
#: for the hot path — sequential commits/reads on a handful of
#: tables — where each head resolves from the cached previous head
#: with ONE O(churn) fold instead of a full chain replay. Callers
#: must treat returned Snapshots as immutable (they do).
_RESOLVE_CACHE: "dict[tuple[str, int], tuple[tuple, Snapshot]]" = {}
_RESOLVE_CACHE_MAX = 8
#: cache housekeeping runs on whatever thread committed/read — appends
#: are deliberately lock-free and the transport serves each connection
#: on its own thread, so eviction must be serialized or two concurrent
#: commits can race ``pop(next(iter(...)))`` into a KeyError AFTER one
#: of them already durably published its manifest. The lock covers
#: only dict surgery (microseconds), never I/O.
_CACHE_LOCK = threading.Lock()


def _file_ident(table_dir: str, version: int) -> "tuple | None":
    """(size, mtime_ns) of a version file — None when absent. Guards
    the cache against a store DELETED and rebuilt at the same path
    (same version number, different contents)."""
    try:
        st = os.stat(os.path.join(_log_dir(table_dir), _V_FMT % version))
    except OSError:
        return None
    return (st.st_size, st.st_mtime_ns)


def _cache_put(key: "tuple[str, int]", ident: tuple, snap: "Snapshot") -> None:
    with _CACHE_LOCK:
        _RESOLVE_CACHE.pop(key, None)
        _RESOLVE_CACHE[key] = (ident, snap)
        while len(_RESOLVE_CACHE) > _RESOLVE_CACHE_MAX:
            try:
                _RESOLVE_CACHE.pop(next(iter(_RESOLVE_CACHE)))
            except (KeyError, StopIteration):  # raced another evictor
                break


def read_version(table_dir: str, version: int) -> "Snapshot | None":
    """Load one specific manifest version (None = never committed, or
    pruned by vacuum past its retention). A DELTA entry resolves
    against version-1 (cache-hit in the hot sequential case, else a
    walk back to the nearest full checkpoint — ≤ CHECKPOINT_EVERY
    reads) and replays forward; a broken chain — the base pruned —
    reads as None, same as a pruned full snapshot."""
    key = (os.path.abspath(table_dir), version)
    with _CACHE_LOCK:
        hit = _RESOLVE_CACHE.get(key)
    if hit is not None:
        ident, snap = hit
        if _file_ident(table_dir, version) == ident:
            return snap
        with _CACHE_LOCK:  # pruned or a rebuilt store — re-read
            _RESOLVE_CACHE.pop(key, None)
    doc = _read_doc(table_dir, version)
    if doc is None:
        return None
    if doc.get("delta"):
        base = read_version(table_dir, version - 1)
        if base is None:
            return None  # chain broken: the delta's base was pruned
        files, tombstones, stats, txns = _apply(
            base.files, base.tombstones, base.stats, base.txns, doc
        )
    else:
        files, tombstones, stats, txns = _full_state(doc)
    snap = Snapshot(
        version,
        sorted(files),
        tombstones,
        doc.get("created_ms", 0),
        doc.get("op", ""),
        stats,
        txns,
    )
    ident = _file_ident(table_dir, version)
    if ident is not None:  # vanished mid-read → don't cache an absent file
        _cache_put(key, ident, snap)
    return snap


def latest(table_dir: str) -> Snapshot:
    """Resolve the highest committed version. A table with no log has
    never committed: it resolves to the empty version -1, whatever
    files its directory holds, and its first commit publishes
    version 0."""
    vs = _versions(table_dir)
    return read_version(table_dir, vs[-1]) if vs else Snapshot(-1, [], {})


def history(table_dir: str) -> "list[Snapshot]":
    """Every retained manifest version, newest first — the table's
    commit log (the reference reads the same story from `git log` on
    its Irmin store; Delta calls this DESCRIBE HISTORY). Bounded by
    vacuum's manifest retention. Resolves ASCENDING with one
    incremental fold — O(versions) doc reads total, not O(versions ×
    chain length)."""
    out: list[Snapshot] = []
    state = None
    prev_v = None
    for v in _versions(table_dir):
        doc = _read_doc(table_dir, v)
        if doc is None:
            state, prev_v = None, None  # raced a vacuum prune — re-anchor
            continue
        if not doc.get("delta"):
            state = _full_state(doc)
        elif state is not None and prev_v == v - 1:
            state = _apply(*state, doc)
        else:
            # a delta with no folded predecessor (oldest retained is
            # mid-chain, or a gap): resolve via its own base walk
            snap = read_version(table_dir, v)
            if snap is None:
                state, prev_v = None, None
                continue
            state = (snap.files, snap.tombstones, snap.stats, snap.txns)
        out.append(
            Snapshot(
                v,
                sorted(state[0]),
                state[1],
                doc.get("created_ms", 0),
                doc.get("op", ""),
                state[2],
                state[3],
            )
        )
        prev_v = v
    return list(reversed(out))


def rel_parts(rel: str) -> "dict[str, str]":
    """Decoded partition values encoded in a manifest relpath
    (``series_id=a/time_bucket=3/part-...parquet`` →
    {'series_id': 'a', 'time_bucket': '3'}) — percent-unquote, the
    same escaping Spark (Hive ``escapePathName``) applies when
    writing, so comparisons happen on DECODED values, never on a
    re-escape that might disagree byte-for-byte."""
    out = {}
    for comp in rel.split("/")[:-1]:
        col, eq, val = comp.partition("=")
        if eq:
            out[col] = unquote(val)
    return out


def tail_files(files, stats: dict, mode: str, n: int) -> "tuple[list[str], int | None]":
    """Manifest files that can hold each series' ``n`` newest rows
    (``mode="last"``) or ``n`` oldest rows (``"first"``) — the
    reference's newest-shard walk (src/timeseries/timeseries.re:250-283)
    decided from manifest stats alone, before any file is opened.

    Per series (the relpath's ``series_id=`` component), for ``"last"``:
    take files newest-``max(timestamp)``-first until they hold ``n``
    rows; ``bound`` is the smallest ``min(timestamp)`` among them; keep
    every file of the series whose ``max`` is at least ``bound``.
    ``"first"`` mirrors it. Comparisons are inclusive, so timestamp
    ties at a file edge are still read and the total-order tie-break
    (operators/ts_read.py ``_order_cols``) stays exact.

    Returns ``(kept files in input order, bound)``. ``bound`` is the
    loosest per-series bound — every top-n row has ``timestamp >=
    bound`` (``<=`` for ``"first"``) or a null timestamp — or None
    when no row filter is safe. Never prunes blind: every file is kept
    when any file lacks stats or a timestamp bound or has no
    ``series_id`` partition. A file whose null count for ``timestamp``
    is not recorded as 0 is always kept and never counts towards
    ``n`` (nulls sort first in ``"first"`` mode)."""
    files = list(files)
    if mode not in ("last", "first"):
        raise ValueError(f"mode must be last|first, got {mode!r}")
    if n < 1:
        return files, None
    by_series: "dict[str, list[str]]" = {}
    for rel in files:
        st = stats.get(rel) or {}
        sid = rel_parts(rel).get("series_id")
        if (
            sid is None
            or "timestamp" not in (st.get("min") or {})
            or "timestamp" not in (st.get("max") or {})
            or st.get("rows") is None
        ):
            return files, None
        by_series.setdefault(sid, []).append(rel)

    # "first" is "last" on negated timestamps: near = the edge the walk
    # orders by, far = the edge that sets the bound
    sign = 1 if mode == "last" else -1
    edge = ("max", "min") if mode == "last" else ("min", "max")

    def near(rel):
        return sign * stats[rel][edge[0]]["timestamp"]

    def far(rel):
        return sign * stats[rel][edge[1]]["timestamp"]

    def counted(rel):
        return (stats[rel].get("nulls") or {}).get("timestamp") == 0

    keep: "set[str]" = set()
    bounds = []
    for rels in by_series.values():
        held, taken = 0, []
        for rel in sorted(filter(counted, rels), key=near, reverse=True):
            taken.append(rel)
            held += stats[rel]["rows"]
            if held >= n:
                break
        if held < n:
            keep.update(rels)
            bounds.append(None)
            continue
        b = min(far(rel) for rel in taken)
        keep.update(rel for rel in rels if not counted(rel) or near(rel) >= b)
        bounds.append(b)
    bound = None if None in bounds or not bounds else sign * min(bounds)
    return [rel for rel in files if rel in keep], bound


def window_files(
    files, stats: dict, series, since=None, until=None
) -> "tuple[list[str], list[str]]":
    """Split candidate files of a windowed read of ``series`` into
    ``(covered, boundary)`` — the reference answers ``length`` from its
    index without reading data (src/timeseries/timeseries.re:310-346);
    this decides from manifest stats which files can be answered that
    way, before any file is opened.

    ``files`` are the files that MAY hold a matching row (the caller's
    series/window pruning already ran). A file is *covered* when its
    stats prove every row it holds matches: its ``series_id=`` relpath
    names a requested series, ``rows`` is recorded and, when the window
    has a bound, the timestamp bounds lie inside the inclusive window
    with a null count recorded as 0 (a null timestamp matches no
    bound). Every other file is *boundary*. Never prunes blind: missing
    evidence only ever makes a file boundary. Both lists keep input
    order."""
    covered: "list[str]" = []
    boundary: "list[str]" = []
    bounded = since is not None or until is not None
    for rel in files:
        st = stats.get(rel) or {}
        lo = (st.get("min") or {}).get("timestamp")
        hi = (st.get("max") or {}).get("timestamp")
        sid = rel_parts(rel).get("series_id")
        ok = sid in series and st.get("rows") is not None
        if ok and bounded:
            ok = (
                (st.get("nulls") or {}).get("timestamp") == 0
                and lo is not None
                and hi is not None
                and (since is None or lo >= since)
                and (until is None or hi <= until)
            )
        (covered if ok else boundary).append(rel)
    return covered, boundary


def commit(
    table_dir: str,
    adds: "list[str]" = (),
    removes: "list[str]" = (),
    drop_tombstones: "list[str]" = (),
    max_retries: int = 50,
    op: str = "",
    stats: "dict[str, dict] | None" = None,
    txn: "tuple[str, int] | None" = None,
) -> Snapshot:
    """Publish the next version: live files = (current − removes) +
    adds; removed files join the tombstone map stamped now;
    ``drop_tombstones`` prunes records whose files vacuum physically
    deleted. The first commit starts from the empty set: files in the
    directory that no commit added stay unreferenced.

    ``stats`` carries per-file column statistics for the ADDED files
    (relpath -> {"rows", "min": {col: v}, "max": {col: v}}); surviving
    files keep their recorded stats, removed files drop theirs, and
    files committed without stats simply have no entry (readers must
    keep them when pruning). Stats merge under the same CAS semantics
    as the file list itself.

    ``txn`` stamps this commit with an application transaction mark
    ``(app_id, version)`` — Delta's idempotent-writes contract: the
    mark rides the SAME atomic manifest publish as the data files, so
    "my data landed" and "my batch number landed" can never disagree.
    Watermarks are monotone per app (``Snapshot.txns``); a writer that
    sees ``txns[app] >= n`` must skip its redelivered batch ``n``.

    CAS loop: on FileExistsError the current head moved — re-resolve
    and retry on top of it. Concurrent APPENDS therefore merge (both
    file sets land); REWRITES must hold the table's writer lock (they
    do — storage.py) since their removes are computed from a read."""
    d = _log_dir(table_dir)
    os.makedirs(d, exist_ok=True)
    for attempt in range(max_retries):
        if attempt:
            # losers of a CAS round re-list, re-read, and re-serialize
            # the whole manifest; under heavy fan-in (every executor
            # core appending at once) that convoy can burn the retry
            # budget. A short linear backoff staggered by pid breaks
            # the lockstep without adding meaningful append latency.
            time.sleep(min(0.2, 0.002 * attempt * (1 + os.getpid() % 7)))
        cur = latest(table_dir)
        add_set = set(adds)
        version = cur.version + 1
        now = int(time.time() * 1000)
        record = {
            "version": version,
            "created_ms": now,
            "adds": sorted(add_set),
            "removes": sorted(set(removes)),
        }
        if drop_tombstones:
            record["drop_tombstones"] = sorted(set(drop_tombstones))
        if stats:
            rec_stats = {k: v for k, v in stats.items() if k in add_set}
            if rec_stats:
                record["stats"] = rec_stats
        if op:
            record["op"] = op
        if txn is not None:
            record["txn"] = [str(txn[0]), int(txn[1])]
        file_set, tombstones, merged_stats, merged_txns = _apply(
            cur.files, cur.tombstones, cur.stats, cur.txns, record
        )
        files = sorted(file_set)
        if version % CHECKPOINT_EVERY == 0:
            # FULL snapshot (checkpoint): one read resolves the table.
            # Version 0 is one — no delta chain leads to it. O(live
            # files) metadata, amortized.
            doc = {
                "version": version,
                "created_ms": now,
                "files": files,
                "tombstones": tombstones,
            }
            if merged_stats:
                doc["stats"] = merged_stats
            if merged_txns:
                doc["txns"] = merged_txns
            if op:
                doc["op"] = op
        else:
            # DELTA entry: O(this commit's churn) metadata, whatever
            # the table's live file count
            doc = dict(record)
            doc["delta"] = True
        tmp = os.path.join(d, f".tmp-{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        final = os.path.join(d, _V_FMT % version)
        coord = coordination.get_coordinator()
        try:
            # CAS publish of a COMPLETE file (coordination seam: the
            # local-FS default is os.link create-if-absent; a
            # multi-driver deployment swaps in a put-if-absent service)
            if not coord.publish(tmp, final):
                continue  # CAS miss — somebody else published this version
            snap = Snapshot(
                version, files, tombstones, now, op, merged_stats, merged_txns
            )
            # seed the resolve cache: the NEXT commit/read folds from
            # this head with one O(churn) step instead of a chain walk
            ident = _file_ident(table_dir, version)
            if ident is not None:
                _cache_put((os.path.abspath(table_dir), version), ident, snap)
            return snap
        finally:
            coord.remove(tmp)
    raise CommitConflict(f"could not commit to {table_dir} after {max_retries} attempts")


def vacuum(
    table_dir: str,
    retention_s: float = DEFAULT_RETENTION_S,
    dry_run: bool = False,
    reclaim_orphans: bool = True,
) -> "tuple[int, int]":
    """Physically delete (a) tombstoned files whose removal is older
    than ``retention_s`` and (b) ORPHANS — data files on disk that no
    manifest references and whose mtime is older than ``retention_s``
    (a crashed writer staged them but never committed). Old manifest
    versions past retention are pruned too. Prunes emptied partition
    dirs. Returns (files_deleted, orphans_deleted). No-op on a table
    that never committed: nothing there was ever published, and its
    directory may be a store from before the log existed, which an
    older checkout still reads.

    ``dry_run=True`` computes the same counts and deletes NOTHING —
    Delta's ``VACUUM ... DRY RUN``, the look-before-you-reclaim an
    operator runs when time travel / change-feed readers might still
    pin the window.

    ``reclaim_orphans=False`` skips the orphan sweep entirely. An
    in-flight REWRITE stages files into the table tree long before its
    single commit publishes them — to a concurrent vacuum those are
    indistinguishable from crash litter, and a staging phase longer
    than the orphan age floor would lose them. Callers who can see the
    table's rewrite lock (ZestStore.vacuum) pass False while it is
    held; orphans are reclaimed by the next uncontended vacuum."""
    snap = latest(table_dir)
    if snap.version < 0:
        return (0, 0)
    now = time.time()
    cutoff_ms = (now - retention_s) * 1000
    dead = [p for p, t in snap.tombstones.items() if t <= cutoff_ms]
    deleted = []
    for rel in dead:
        if not dry_run:
            with contextlib.suppress(OSError):
                os.unlink(os.path.join(table_dir, rel))
        deleted.append(rel)
    live = set(snap.files)
    tomb = set(snap.tombstones)
    orphans = 0
    orphan_age = max(retention_s, ORPHAN_MIN_AGE_S)
    if reclaim_orphans:
        for rel in list_data_files(table_dir):
            if rel in live or rel in tomb:
                continue
            full = os.path.join(table_dir, rel)
            with contextlib.suppress(OSError):
                if os.path.getmtime(full) <= now - orphan_age:
                    if not dry_run:
                        os.unlink(full)
                    orphans += 1
    if reclaim_orphans:
        # fast-path staging litter: a crash between a driver-side
        # dot-file write and its rename (storage._write_local, which
        # every driver-side append and fold goes through) leaves `.part-*` /
        # `.rw-*` parquet dotfiles. The `.`-prefix contract makes them
        # invisible to every reader forever, so they reclaim
        # unconditionally past the orphan age floor.
        for dirpath, dirs, names in os.walk(table_dir):
            dirs[:] = [d for d in dirs if not d.startswith("_")]
            for f in names:
                if f.startswith(".") and f.endswith(".parquet"):
                    full = os.path.join(dirpath, f)
                    with contextlib.suppress(OSError):
                        if os.path.getmtime(full) <= now - orphan_age:
                            if not dry_run:
                                os.unlink(full)
                            orphans += 1
    if dry_run:
        return (len(deleted), orphans)
    if deleted:
        commit(table_dir, drop_tombstones=deleted, op="vacuum")
    # manifests older than the newest one covering the retention window
    # can no longer be a reader's pin — prune them. They keep the
    # orphan-age floor regardless of the caller's data retention, so an
    # aggressive maintenance vacuum (compact's vacuum(0)) reclaims
    # bytes without erasing the recent history/time-travel log.
    d = _log_dir(table_dir)
    manifest_age = max(retention_s, ORPHAN_MIN_AGE_S)
    for n in os.listdir(d):
        if n.startswith(".tmp-"):
            full = os.path.join(d, n)
            with contextlib.suppress(OSError):
                if os.path.getmtime(full) <= now - orphan_age:
                    os.unlink(full)
    vs = _versions(table_dir)

    def _age_ok(v: int) -> bool:  # old enough that no reader pins it
        try:
            mt = os.path.getmtime(os.path.join(d, _V_FMT % v))
        except OSError:
            return False
        return mt <= now - manifest_age

    kept = {v for v in vs if not _age_ok(v)} | {snap.version}
    oldest_kept = min(kept)
    # a DELTA entry resolves by walking back to its nearest full
    # checkpoint — prune only BELOW the checkpoint anchoring the
    # oldest version a reader may still pin, so every kept version
    # stays resolvable (the overhang is < CHECKPOINT_EVERY entries)
    floor = None
    for v in sorted(vs, reverse=True):
        if v <= oldest_kept:
            doc = _read_doc(table_dir, v)
            if doc is not None and not doc.get("delta"):
                floor = v
                break
    if floor is None:
        floor = oldest_kept
    for v in vs:
        if v < floor:
            with contextlib.suppress(OSError):
                os.unlink(os.path.join(d, _V_FMT % v))
    _prune_empty_dirs(table_dir)
    return (len(deleted), orphans)


def _prune_empty_dirs(table_dir: str) -> None:
    """Remove partition dirs emptied by deletion, bottom-up; the table
    root and the log dir stay."""
    for dirpath, _dirs, _names in os.walk(table_dir, topdown=False):
        if dirpath == table_dir or os.path.basename(dirpath) == _LOG_DIR:
            continue
        with contextlib.suppress(OSError):
            if not os.listdir(dirpath):  # re-check: children deleted above
                os.rmdir(dirpath)
