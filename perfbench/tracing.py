"""Tracing for the per-layer run, kept entirely in the benchmark's files.

``Tracer.install`` wraps the public entry points of each package layer
(``flight.server`` verbs, ``catalog``, ``table``, ``connector``) so that
every call records a span: layer, name, start, end, parent span and
thread. Spans stay in memory and are written out when the run ends.
``StageReader`` reads per-stage executor metrics from Spark's status
store (no UI needed) and attributes them to op kinds by job group.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time

from perfbench import stats

# (module path, class name or None, attribute, layer, span name)
TRACED = (
    ("icerunner_spark.flight.server", "IceFlightServer", "do_get", "server", "server.do_get"),
    ("icerunner_spark.flight.server", "IceFlightServer", "do_put", "server", "server.do_put"),
    ("icerunner_spark.flight.server", "IceFlightServer", "get_flight_info", "server", "server.get_flight_info"),
    ("icerunner_spark.catalog", "Catalog", "list_tables", "catalog", "catalog.list_tables"),
    ("icerunner_spark.catalog", "Catalog", "table", "catalog", "catalog.table"),
    ("icerunner_spark.table", "IceTable", "current_snapshot", "table", "table.current_snapshot"),
    ("icerunner_spark.table", "IceTable", "snapshots", "table", "table.snapshots"),
    ("icerunner_spark.table", "IceTable", "snapshot_by_id", "table", "table.snapshot_by_id"),
    ("icerunner_spark.table", "IceTable", "_prune_files", "table", "table.prune"),
    ("icerunner_spark.table", "IceTable", "stage_append", "table", "table.stage_append"),
    ("icerunner_spark.table", "IceTable", "publish_append", "table", "table.publish_append"),
    ("icerunner_spark.table", "IceTable", "scan", "table", "table.scan"),
    ("icerunner_spark.table", "IceTable", "metadata_count", "table", "table.metadata_count"),
    ("icerunner_spark.connector", "Connector", "table", "connector", "connector.table"),
    ("icerunner_spark.connector", "Connector", "tables", "connector", "connector.tables"),
    ("icerunner_spark.connector", "Connector", "sql_df", "connector", "connector.sql_df"),
    ("icerunner_spark.connector", "Connector", "insert", "connector", "connector.insert"),
    ("icerunner_spark.connector", "Connector", "create_table", "connector", "connector.create_table"),
    ("icerunner_spark.connector", None, "arrow_to_df", "connector", "connector.arrow_to_df"),
)


def ticket_kind(raw: bytes) -> str:
    """Op kind of a ``do_get`` ticket as the server sees it."""
    try:
        cmd = json.loads(raw.decode())
    except (UnicodeDecodeError, json.JSONDecodeError):
        return "get"
    if not isinstance(cmd, dict):
        return "get"
    if "sql" in cmd:
        return "sql"
    return {"get_slice": "slice", "scan": "scan"}.get(cmd.get("command"), "command")


def descriptor_kind(descriptor) -> str:
    """Op kind of a ``get_flight_info`` descriptor."""
    if descriptor.path:
        return "info"
    try:
        cmd = json.loads(descriptor.command.decode())
    except (UnicodeDecodeError, json.JSONDecodeError):
        return "command"
    if isinstance(cmd, dict) and "sql" in cmd:
        return "sql"
    if isinstance(cmd, dict) and cmd.get("command") == "get_slices":
        return "slice"
    return "command"


class Tracer:
    def __init__(self, spark=None):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []
        self._spark = spark
        self.enabled = False

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def record(self, layer: str, name: str, fn, *args, **kwargs):
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        start = time.perf_counter()
        ok = False
        try:
            out = fn(*args, **kwargs)
            ok = True
            return out
        finally:
            end = time.perf_counter()
            stack.pop()
            span = {
                "id": sid, "parent": parent, "layer": layer, "name": name,
                "start": start, "end": end, "ok": ok,
                "thread": threading.get_ident(),
            }
            with self._lock:
                self.spans.append(span)

    def _server_verb(self, name: str, fn):
        """Server verbs also tag the Spark jobs they start with a job
        group naming the op kind, so stage metrics can be attributed."""
        sc = self._spark.sparkContext if self._spark is not None else None

        @functools.wraps(fn)
        def verb(srv, context, *args):
            if self.enabled and sc is not None:
                if name == "server.do_get":
                    kind = ticket_kind(args[0].ticket)
                elif name == "server.do_put":
                    kind = "put"
                else:
                    kind = descriptor_kind(args[0])
                sc.setJobGroup(kind, kind)
            return self.record("server", name, fn, srv, context, *args)

        return verb

    def install(self) -> None:
        """Wrap every entry point in TRACED (idempotent per Tracer)."""
        import importlib

        if self._restore:
            return
        for mod_name, cls_name, attr, layer, name in TRACED:
            owner = importlib.import_module(mod_name)
            if cls_name is not None:
                owner = getattr(owner, cls_name)
            orig = owner.__dict__[attr] if cls_name else getattr(owner, attr)
            if isinstance(orig, property):
                fget = orig.fget
                wrapped = property(
                    functools.wraps(fget)(
                        lambda obj, _f=fget, _l=layer, _n=name: self.record(_l, _n, _f, obj)
                    )
                )
            elif layer == "server":
                wrapped = self._server_verb(name, orig)
            else:
                wrapped = functools.wraps(orig)(
                    lambda *a, _f=orig, _l=layer, _n=name, **k: self.record(_l, _n, _f, *a, **k)
                )
            setattr(owner, attr, wrapped)
            self._restore.append((owner, attr, orig))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore = []

    # -------------------------------------------------------- summaries
    def summary(self, under_layer: str | None = None) -> dict:
        """Per span name: calls, total and mean ms; per layer: self ms;
        the count of server RPC spans (the ``per_rpc`` base) and of spans.
        ``under_layer`` keeps only spans whose root span is of that layer
        (e.g. work done inside server RPCs, not in the mirror client)."""
        spans = list(self.spans)
        if under_layer is not None:
            by_id = {s["id"]: s for s in spans}

            def root(s):
                while s["parent"] is not None and s["parent"] in by_id:
                    s = by_id[s["parent"]]
                return s

            spans = [s for s in spans if root(s)["layer"] == under_layer]
        selfs = stats.self_times(spans)
        by_name: dict[str, dict] = {}
        layer_self: dict[str, float] = {}
        for s in spans:
            d = by_name.setdefault(s["name"], {"calls": 0, "total_ms": 0.0, "errors": 0})
            d["calls"] += 1
            d["total_ms"] += (s["end"] - s["start"]) * 1e3
            d["errors"] += 0 if s["ok"] else 1
            layer_self[s["layer"]] = layer_self.get(s["layer"], 0.0) + selfs[s["id"]] * 1e3
        for d in by_name.values():
            d["mean_ms"] = d["total_ms"] / d["calls"]
        rpcs = sum(1 for s in spans if s["layer"] == "server")
        return {"by_name": by_name, "layer_self_ms": layer_self, "rpcs": rpcs, "spans": len(spans)}


class StageReader:
    """Stage metrics from the Spark status store, via py4j."""

    def __init__(self, spark):
        self.spark = spark

    def snapshot(self) -> dict:
        """``{"stages": {stage_id: {...}}, "jobs": [{"group", "stages"}]}``
        for every completed stage and job so far."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        store = sc._jsc.sc().statusStore()
        empty = jvm.java.util.ArrayList()
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        seq = store.stageList(empty, False, False, no_quantiles, jvm.java.util.ArrayList())
        stages = {}
        it = seq.iterator()
        while it.hasNext():
            s = it.next()
            stages[(s.stageId(), s.attemptId())] = {
                "stage": s.stageId(),
                "status": s.status().toString(),
                "tasks": s.numCompleteTasks(),
                "executor_run_ms": s.executorRunTime(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
        jobs = []
        it = store.jobsList(jvm.java.util.ArrayList()).iterator()
        while it.hasNext():
            j = it.next()
            group = j.jobGroup().get() if j.jobGroup().isDefined() else None
            ids = j.stageIds()
            sit = ids.iterator()
            sids = []
            while sit.hasNext():
                sids.append(int(sit.next()))
            jobs.append({"job": j.jobId(), "group": group, "stages": sids})
        return {"stages": stages, "jobs": jobs}

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        """Jobs and stages that completed between two snapshots, summed
        per job group: jobs, tasks, executor ms, shuffle and spill bytes."""
        old_jobs = {j["job"] for j in before["jobs"]}
        new_jobs = [j for j in after["jobs"] if j["job"] not in old_jobs]
        new_stages = {k: v for k, v in after["stages"].items() if k not in before["stages"]}
        group_of: dict[int, str] = {}
        per_group: dict[str, dict] = {}
        for j in new_jobs:
            g = j["group"] or "other"
            d = per_group.setdefault(g, _zero())
            d["jobs"] += 1
            for sid in j["stages"]:
                group_of.setdefault(sid, g)
        for st in new_stages.values():
            d = per_group.setdefault(group_of.get(st["stage"], "other"), _zero())
            d["tasks"] += st["tasks"]
            d["executor_run_ms"] += st["executor_run_ms"]
            d["shuffle_bytes"] += st["shuffle_read_bytes"] + st["shuffle_write_bytes"]
            d["spill_bytes"] += st["spill_bytes"]
        return {
            "per_group": per_group,
            "stages": list(new_stages.values()),
            "jobs": new_jobs,
        }


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_run_ms": 0, "shuffle_bytes": 0, "spill_bytes": 0}
