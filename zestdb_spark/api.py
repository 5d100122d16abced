"""ZestEngine — the reference's full request surface over the Spark
engine: GET/POST/DELETE on reference paths, ZestQL statements, and
observe registrations, with audit records for every call.

Mirrors the server's dispatch (src/server.re:561-1073) minus transport:
ZMQ/CoAP framing, CurveZMQ crypto, and macaroon auth are out of
analytic scope (SURVEY.md §2.12 M4) — `authorize` is a hook that
accepts everything by default.

Results are reference-shaped JSON strings (serializers.py). ``length``
and the unfiltered ``count``/``min``/``max`` over since/range windows
are the manifest fold (``ZestStore.window_stat``): files whose stats
put every row inside the window answer from those stats, and only the
boundary files are read. Every other TS read takes the files ONE
snapshot keeps for the compiled plan's scan hints (series, time window,
and for last/first/latest/earliest the manifest ``tail`` hint).

Control-plane-sized reads run on the driver with the same contract,
as control-plane-sized writes do: when those files total at most
``ZestStore._DRIVER_MAX_BYTES`` (``ZestStore.local_files``),
``plans.driver`` evaluates the compiled plan over them with pyarrow and
no Spark job runs. That covers the TS reads, ``window_stat``'s
boundary files, and one namespace's KV ``keys``.
Above the budget, and for any input the driver cannot answer
identically (``plans.driver.Fallback``), the read is one Spark scan:
``ZestStore.load`` with the same hints, then ``plan_to_dataframe``.
For DataFrame access (the analytics path) use the plans/operators
modules or the ``zest_tail`` source directly; this facade is the
compatibility layer a reference client would hit.
"""

from __future__ import annotations

import json
import socket
from typing import Any, Optional

from pyspark.sql import SparkSession

from zestdb_spark import serializers
from zestdb_spark.errors import BadRequest, ZestError
from zestdb_spark.operators import catalog as cat_ops
from zestdb_spark.operators import kv as kv_ops
from zestdb_spark.plans import compile_path, plan_to_dataframe, plan_to_path
from zestdb_spark.plans import driver
from zestdb_spark.plans import zestql as zql
from zestdb_spark.storage import ZestStore, now_ms
from zestdb_spark.streaming.observe import ObserverRegistry


class ZestEngine:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        acl=None,
        compat_collateral_delete: bool = False,
    ):
        self.spark = spark
        self.store = ZestStore(spark, root)
        self.observers = ObserverRegistry()
        self.started_ms = now_ms()
        self.server = socket.gethostname()
        #: optional zestdb_spark.auth.AclValidator (None = permissive,
        #: mirroring the reference's opt-in --enable-macaroons)
        self.acl = acl
        #: reproduce the reference's delete-by-timestamp collateral
        #: quirk (SURVEY.md §2.7 D1) when True
        self.compat_collateral_delete = compat_collateral_delete

    # ----------------------------------------------------------- plumbing

    def _audit(self, method: str, path: str, code: int, client: str) -> None:
        record = (now_ms(), self.server, client, method, path, code)
        self.store.audit_append(record)
        self.observers.publish_audit(record)

    def authorize(
        self,
        method: str,
        path: str,
        token: Optional[str],
        observe: Optional[str] = None,
    ) -> None:
        """M4 hook — raises Unauthorized (CoAP 129) when an ACL is
        configured and denies; permissive when no ACL is set. ``observe``
        carries the observe mode for observation requests (the reference
        adds an ``observe = <mode>`` caveat context, server.re:817-818)."""
        if self.acl is None:
            return
        if observe is not None and self._acl_takes_observe():
            self.acl.check(method, path, token, observe=observe)
            return
        self.acl.check(method, path, token)

    def _acl_takes_observe(self) -> bool:
        """Capability probe by SIGNATURE — never by catching TypeError,
        which would also swallow TypeErrors raised inside a supporting
        validator and silently downgrade the check to a plain GET."""
        import inspect

        try:
            return "observe" in inspect.signature(self.acl.check).parameters
        except (TypeError, ValueError):  # builtins/C callables
            return False

    def observe(
        self,
        path: str,
        mode: str = "data",
        max_age_s: int = 0,
        client: str = "client",
        token: Optional[str] = None,
    ) -> str:
        """Authorized + audited observer registration (the GET(OBSERVE)
        path, src/server.re:859-874) — returns the observer uuid."""
        try:
            self.authorize("GET", path, token, observe=mode)
            oid = self.observers.register(path, mode=mode, max_age_s=max_age_s)
        except ZestError as e:
            self._audit("GET(OBSERVE)", path, e.code, client)
            raise
        self._audit("GET(OBSERVE)", path, 69, client)
        return oid

    # ---------------------------------------------------------------- GET

    def get(
        self,
        path: str,
        client: str = "client",
        token: Optional[str] = None,
        content_format: Optional[str] = None,
    ) -> str:
        """``content_format`` routes KV reads to the json/text/binary
        store — the engine's stand-in for the reference's CoAP
        content-format option (0=text, 42=binary, 50=json,
        src/prov.re:30-36); default json."""
        try:
            self.authorize("GET", path, token)
            result = self._get(path, content_format)
        except ZestError as e:
            self._audit("GET", path, e.code, client)
            raise
        self._audit("GET", path, 69, client)  # 69 = CoAP Content
        self.observers.publish_data(path, result)
        return result

    def _get(self, path: str, content_format: Optional[str]) -> str:
        parts = path.split("/")
        # M3 service endpoints (src/server.re:68-72,594-632)
        if path == "/uptime":
            return json.dumps({"uptime": (now_ms() - self.started_ms) // 1000})
        if path == "/hello":
            return json.dumps("world")
        if path == "/time":
            return json.dumps({"time": now_ms()})
        if path == "/cat":
            return cat_ops.render(self.store.load("catalog_items"))

        if len(parts) >= 3 and parts[1] == "kv":
            return self._get_kv(content_format or "json", parts)
        if len(parts) >= 3 and parts[1] == "ts":
            plan = compile_path(path)
            table = "ts_numeric" if plan.store == "numeric" else "ts_blob"
            w = plan.window
            if w.op == "length" or (
                plan.filter is None
                and plan.agg in ("count", "min", "max")
                and w.op in ("since", "range")
            ):
                return self._get_stat(plan, table)
            # scan hints from the compiled plan: the store's manifest
            # stats prune non-matching files before either executor
            # reads (superset contract — both still apply the exact
            # series/window predicates). The last/first family reads
            # only the files that can hold each series' top n — the
            # reference's newest-shard walk (timeseries.re:250-283).
            tail = None
            if w.op in ("last", "latest"):
                tail = ("last", w.n if w.op == "last" else 1)
            elif w.op in ("first", "earliest"):
                tail = ("first", w.n if w.op == "first" else 1)
            hints = {
                "since_ms": w.from_ms if w.op in ("since", "range") else None,
                "until_ms": w.to_ms if w.op == "range" else None,
                "tail": tail,
            }
            try:
                got = self._on_driver(plan, table, **hints)
            except driver.Fallback:
                df = plan_to_dataframe(
                    plan,
                    self.store.load(table, series=set(plan.ids), **hints),
                    sort=plan.agg is None,
                )
                if plan.agg is not None:
                    return serializers.aggregate_to_json(df)
                return serializers.rows_to_json(df, blob=plan.store == "blob")
            if plan.agg is not None:
                return serializers.result_to_json(got)
            return serializers.records_to_json(got, blob=plan.store == "blob")
        raise BadRequest(f"unrecognized GET path {path!r}")

    def _on_driver(self, plan, table: str, rels=None, **hints):
        """``plan``'s answer (``plans.driver.answer``) over the files ONE
        snapshot keeps for the read; raises ``driver.Fallback`` when the
        store sends the read to Spark (``ZestStore.local_files``)."""
        parts = self.store.local_files(table, set(plan.ids), rels, **hints)
        if parts is None:
            raise driver.Fallback(f"{table} read is not driver-sized")
        return driver.answer(plan, parts)

    def _get_stat(self, plan, table: str) -> str:
        """``length`` and the bare since/range ``count``/``min``/``max``:
        folded from the manifest stats of the files wholly inside the
        window, with only the boundary files read through the same
        plan (``ZestStore.window_stat``) — the reference answers length
        from its index the same way (timeseries.re:310-346)."""
        w = plan.window

        def scan(rels, frame):
            try:
                return self._on_driver(plan, table, rels)
            except driver.Fallback:
                return plan_to_dataframe(plan, frame()).collect()[0][0]

        value = self.store.window_stat(
            table,
            plan.agg or "length",
            set(plan.ids),
            scan,
            since_ms=w.from_ms,
            until_ms=w.to_ms,
        )
        if w.op == "length":
            return serializers.length_value_to_json(value)
        return serializers.result_to_json(value)

    def _get_kv(self, kind: str, parts: list[str]) -> str:
        table = f"kv_{kind}"
        if len(parts) == 4 and parts[3] == "keys" and kind in ("json", "text", "binary"):
            # one driver-sized namespace's keys are read on the driver
            files = self.store.local_files(table, {parts[2]})
            try:
                if files is not None:
                    return json.dumps(driver.kv_keys(files.get(parts[2], [])))
            except driver.Fallback:
                pass
        kv = self.store.load(table)
        if len(parts) == 4 and parts[3] == "keys":
            return serializers.keys_to_json(kv_ops.keys(kv, parts[2]))
        if len(parts) == 4 and parts[3] == "count":
            return serializers.count_to_json(kv_ops.count(kv, parts[2]))
        if len(parts) == 4:
            rows = kv_ops.read(kv, parts[2], parts[3]).collect()
            if not rows:
                return ""
            value = rows[0]["value"]
            return bytes(value).decode("latin-1") if isinstance(value, (bytes, bytearray)) else value
        raise BadRequest(f"unrecognized KV path {'/'.join(parts)!r}")

    # --------------------------------------------------------------- POST

    def post(
        self,
        path: str,
        payload: Any,
        client: str = "client",
        token: Optional[str] = None,
        content_format: Optional[str] = None,
    ) -> None:
        """KV writes route by ``content_format`` when given, else by
        payload type: bytes→binary, str→text, JSON values→json."""
        try:
            self.authorize("POST", path, token)
            with self.store._request("POST", path, client, content_format):
                self._post(path, payload, content_format)
        except ZestError as e:
            self._audit("POST", path, e.code, client)
            raise
        self._audit("POST", path, 65, client)  # 65 = Created
        self.observers.publish_data(path, payload)

    def _post(self, path: str, payload: Any, content_format: Optional[str]) -> None:
        parts = path.split("/")
        if path == "/cat":
            self.store.catalog_upsert(payload)
            return
        if len(parts) >= 3 and parts[1] == "ts":
            if parts[2] == "blob":
                if len(parts) == 4:
                    self.store.write_blob(parts[3], payload)
                elif len(parts) == 6 and parts[4] == "at":
                    self.store.write_blob(parts[3], payload, int(parts[5]))
                else:
                    raise BadRequest(f"unrecognized blob write path {path!r}")
            elif len(parts) == 3:
                self.store.write_numeric(parts[2], payload)
            elif len(parts) == 5 and parts[3] == "at":
                self.store.write_numeric(parts[2], payload, int(parts[4]))
            else:
                raise BadRequest(f"unrecognized ts write path {path!r}")
            return
        if len(parts) == 4 and parts[1] == "kv":
            kind = content_format
            if kind is None:
                kind = (
                    "binary"
                    if isinstance(payload, (bytes, bytearray))
                    else "text" if isinstance(payload, str) else "json"
                )
            if kind == "json" and not isinstance(payload, str):
                value = json.dumps(payload)
            elif kind == "binary" and isinstance(payload, str):
                value = payload.encode()
            else:
                value = payload
            self.store.kv_upsert(kind, parts[2], parts[3], value)
            return
        raise BadRequest(f"unrecognized POST path {path!r}")

    # ------------------------------------------------------------- DELETE

    def delete(
        self,
        path: str,
        client: str = "client",
        token: Optional[str] = None,
        content_format: Optional[str] = None,
    ) -> None:
        try:
            self.authorize("DELETE", path, token)
            with self.store._request("DELETE", path, client, content_format):
                self._delete(path, content_format)
        except ZestError as e:
            self._audit("DELETE", path, e.code, client)
            raise
        self._audit("DELETE", path, 66, client)  # 66 = Deleted

    def _delete(self, path: str, content_format: Optional[str]) -> None:
        parts = path.split("/")
        if len(parts) >= 3 and parts[1] == "kv":
            if len(parts) > 4:
                # destructive verbs validate at least as strictly as
                # reads: /kv/ns/key/typo must error, not delete 'key'
                raise BadRequest(f"unrecognized KV path {path!r}")
            self.store.kv_delete(
                content_format or "json", parts[2], parts[3] if len(parts) > 3 else None
            )
            return
        if len(parts) >= 3 and parts[1] == "ts":
            plan = compile_path(path)  # guards reject non-window paths below
            self.store.ts_delete(plan, compat_collateral=self.compat_collateral_delete)
            return
        raise BadRequest(f"unrecognized DELETE path {path!r}")

    # ---------------------------------------------------------- bulk ingest

    def ingest_bulk(
        self,
        rows,
        path: str = "/ts/bulk",
        client: str = "loader",
        token: Optional[str] = None,
    ) -> None:
        """S6 write side at scale: one distributed append of a
        ts_numeric-shaped DataFrame under a single provenance record —
        the whole batch is one 'commit', exactly like a reference shard
        write carries one Prov.info message (src/prov.re:38-46).
        Authorized like every other write: an ACL-protected engine must
        not have an unauthenticated bulk side door, and a batch the
        store refuses is audited with its code like any other POST."""
        try:
            self.authorize("POST", path, token)
            with self.store._request("POST", path, client):
                self.store.write_numeric_bulk(rows)
        except ZestError as e:
            self._audit("POST", path, e.code, client)
            raise
        self._audit("POST", path, 65, client)

    # ------------------------------------------------------------- ZestQL

    def zestql(
        self,
        statement: str,
        now: Optional[int] = None,
        client: str = "client",
        token: Optional[str] = None,
    ) -> Optional[str]:
        """Execute one ZestQL statement (entry point D, SURVEY.md §3.4).
        Observe statements go through the authorized+audited
        ``observe()`` path, same as the wire front-end."""
        stmt = zql.parse(statement, now if now is not None else now_ms())
        # Get/Post/Delete re-enter through the URI-path entry point (the
        # printer round-trips the plan exactly — tests/test_paths.py) so
        # EVERY front-end shares one authorize + request-context + audit
        # + observe-teeing + compat-flag path. Statement-level dispatch
        # that called the store directly bypassed ACLs and left no audit
        # trail for GETs and DELETEs, and ignored compat_collateral_delete.
        if isinstance(stmt, zql.Get):
            return self.get(plan_to_path(stmt.plan), client=client, token=token)
        if isinstance(stmt, zql.Post):
            payload: dict[str, Any] = {"value": stmt.value}
            if stmt.tag is not None:
                payload[stmt.tag[0]] = stmt.tag[1]
            self.post(f"/ts/{stmt.series_id}", payload, client=client, token=token)
            return None
        if isinstance(stmt, zql.Delete):
            self.delete(plan_to_path(stmt.plan), client=client, token=token)
            return None
        if isinstance(stmt, zql.Observe):
            self.observe(
                f"/ts/{stmt.series_id}",
                mode=stmt.mode,
                max_age_s=stmt.max_age_s,
                client=client,
                token=token,
            )
            return None
        # Connect/Disconnect are transport-level no-ops here
        return None
