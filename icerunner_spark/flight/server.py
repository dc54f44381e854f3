"""Arrow Flight server over the Spark-managed snapshot tables.

Verbs (parity with icerunner.py:262-310) plus the four command descriptors
the reference's mirror client speaks but its own server never implemented
(SURVEY.md §2.A "server-side command protocol"):

- ``do_get`` ticket forms:
    * raw table name                                  -> full table stream
    * ``{"command": "list_tables"}``                  -> table_name column
    * ``{"command": "get_schema", "table": t}``       -> zero-row batch with schema
    * ``{"command": "get_changes", "table": t,
         "snapshot_id": s}``                          -> rows appended after s
    * ``{"command": "get_changelog", "table": t,
         "snapshot_id": s, "lineage": bool}``         -> insert/delete rows
         (+ ``_change_type``; ``lineage`` adds ``_row_id`` — Iceberg v3
         row identity) — survives merge-on-read maintenance
    * ``{"command": "get_metadata", "table": t}``     -> snapshot_id / row stats
    * ``{"command": "scan", "table": t,
         "where": [[col, op, value], ...],
         "columns": [c, ...]}``                       -> predicate-pushdown
         stream: manifest/column-bounds/partition-transform pruning picks
         the files, a pyarrow dataset filter keeps rows exact — zero Spark.
         ``columns`` projects the stream: only those column chunks are
         decoded and cross the wire (predicates may name dropped columns);
         ``snapshot_id`` / ``tag`` / ``as_of_ms`` pin the read — remote
         VERSION / TIMESTAMP AS OF
    * ``{"sql": "..."}``                              -> Spark SQL result stream
- ``get_flight_info`` accepts path descriptors (table) and command
  descriptors (``LIST_TABLES`` bytes or the JSON commands above), returns
  the *actual* bound location (the reference hard-codes localhost:8816,
  icerunner.py:303) and real row/byte totals from the manifest's per-file
  row counts (the reference materializes the whole table just to report
  schema and then returns -1/-1, icerunner.py:306-307).
- ``do_put`` appends to an existing table in row-count chunks (the
  reference buffers the entire upload, icerunner.py:287-291, and its
  "batch_size" counts batches, not rows — bug at :1118).

Serve-path scale: a full-table ``do_get`` streams record batches straight
from the manifest's parquet files through ``pyarrow.dataset`` — zero
driver materialization, constant memory. Spark is only engaged for SQL
tickets and for ingest commits. This is the design SURVEY.md §7 calls out
as "the one place the reference's architecture actively fights Spark".

Metadata work is per commit, not per RPC. Each RPC reads the table's
snapshot once and answers from that snapshot's serve plan
(:class:`_ServePlan`): the Spark and logical Arrow schemas, each data
file's layout group, footer schemas read once per file, and row/byte
totals summed from the manifest's recorded row counts. Snapshots and data
files never change, so a plan is built on the first RPC that sees a
snapshot and reused until a commit makes a new one; the server keeps the
``PLAN_CACHE_SIZE`` most recently used. Reads that span snapshots (the
``get_changes`` file walk) and the Spark spill paths stay uncached.
"""

from __future__ import annotations

import json
import os
import threading
from collections import OrderedDict

import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.flight as flight
import pyarrow.parquet as pq
from pyspark.sql.types import StructType

from icerunner_spark.connector import Connector
from icerunner_spark.table import (
    IceTable,
    Snapshot,
    _commit_dir_of,
    _decode_bound,
    _hive_partition_values,
    _normalize_predicates,
    _predicates_to_column,
)

DEFAULT_PORT = 8816
STREAM_BATCH_ROWS = 65536
PLAN_CACHE_SIZE = 16  # serve plans kept per server, least recently used dropped


def _spark_schema_to_arrow(struct_type) -> pa.Schema:
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(struct_type)


def _layout_keys(snap: Snapshot, files_rel, logical, mappings=None) -> dict:
    """Layout key of each table-relative data file: ``(physical name of
    each logical column, partition values, partition spec)``, resolved
    through the snapshot's field ids (table.py field-id indirection).
    Partition columns are physical-None: they live in the hive path
    (``lang=en/``), not the file, and their decoded values ride in the
    key. ``mappings`` replaces the snapshot's per-dir physical names (a
    changes read whose files come from several snapshots)."""
    fid = snap.field_ids
    spec = list(snap.partition_spec or [])
    dir_specs = dict(snap.dir_specs or {})
    mappings = snap.file_mappings if mappings is None else mappings
    per_dir: dict = {}
    keys = {}
    for f in files_rel:
        d = _commit_dir_of(f)
        if d not in per_dir:
            # spec evolution: each dir serves under the spec it was
            # written with (identity columns of THAT spec come from the
            # hive path; other dirs carry the column physically)
            dspec = dir_specs.get(d, spec)
            m = mappings.get(d)
            per_dir[d] = (
                tuple(dspec),
                tuple(
                    None
                    if n in dspec
                    else (n if m is None else m.get(str(fid.get(n))))
                    for n in logical
                ),
            )
        dspec, phys = per_dir[d]
        if dspec:
            vals = _hive_partition_values(f)
            pvals = tuple(vals.get(c) for c in dspec)
        else:
            pvals = ()
        keys[f] = (phys, pvals, dspec)
    return keys


class _ServePlan:
    """What the serve path derives from one snapshot of one table, built
    once. A snapshot and its data files never change (data files are
    uniquely named), so a plan never goes stale: a commit makes a new
    snapshot id, and the server builds a new plan for it."""

    def __init__(self, table: IceTable, snap: Snapshot):
        self.table, self.snap = table, snap
        self.schema = StructType.fromJson(json.loads(snap.schema_json))
        self.logical = [f.name for f in self.schema.fields]
        self.types = {f.name: f.dataType for f in self.schema.fields}
        self.spark_arrow = _spark_schema_to_arrow(self.schema)
        self.keys = _layout_keys(snap, snap.manifest, self.logical)
        self._footers: dict = {}
        self._totals: tuple[int, int] | None = None  # filled on first use
        # initial column defaults (add_column(default=)): columns absent
        # from a group's files serve the default, NOT null — same answer
        # as IceTable.scan. Keyed by logical name via the field ids.
        dfl, fids = snap.field_defaults or {}, snap.field_ids or {}
        self.defaults = {
            n: dfl[str(fids[n])]
            for n in self.logical
            if n in fids and str(fids[n]) in dfl
        }
        self.arrow_schema = self._logical_arrow_schema()

    def footer(self, path: str) -> pa.Schema:
        """Parquet footer schema of one data file, read once per plan."""
        schema = self._footers.get(path)
        if schema is None:
            schema = self._footers[path] = pq.read_schema(path)
        return schema

    def groups(self, files_rel, keys: dict | None = None) -> list[tuple]:
        """``files_rel`` grouped by physical column layout and partition
        values, in order of each group's first file: ``(abs_files,
        [(physical_name_or_None, logical_name), ...], {partition_col:
        value_str})`` per group. One group with identity names = the
        common unpartitioned no-rename case. ``keys`` (from
        :func:`_layout_keys`) defaults to the manifest's, so a pruned
        subset groups by dict lookup."""
        keys = self.keys if keys is None else keys
        grouped: dict = {}
        for f in files_rel:
            grouped.setdefault(keys[f], []).append(os.path.join(self.table.path, f))
        return [
            (fs, list(zip(phys, self.logical)), dict(zip(dspec, pvals)))
            for (phys, pvals, dspec), fs in grouped.items()
        ]

    def _logical_arrow_schema(self) -> pa.Schema:
        """Arrow schema under the snapshot's LOGICAL column names. Types
        come from a parquet footer where a file exists (fidelity with what
        the stream will carry), falling back to the Spark->Arrow mapping
        for columns no file has yet (fresh add_column) or empty tables."""
        groups = self.groups(self.snap.manifest)
        fields = []
        for i, fld in enumerate(self.schema.fields):
            typ = None
            for files, pairs, _pvals in groups:
                p = pairs[i][0]
                if p is not None and files:
                    typ = self.footer(files[0]).field(p).type
                    break
            # Advertise the stable field id as Arrow field metadata (the
            # same trick as parquet's PARQUET:field_id): mirror clients
            # diff ids across syncs to replay renames/adds/drops on their
            # target metadata-only instead of a full resync.
            fid = self.snap.field_ids.get(fld.name)
            meta = {b"ICE:field_id": str(fid).encode()} if fid is not None else None
            # carry the initial default over the wire: mirrors replay
            # add_column metadata-only, and pre-evolution rows never
            # re-ship through the changelog — without this the mirror
            # permanently reads NULL where the source reads the default
            dflv = (self.snap.field_defaults or {}).get(str(fid))
            if meta is not None and dflv is not None:
                meta[b"ICE:default"] = json.dumps(dflv).encode()
            fields.append(
                pa.field(
                    fld.name,
                    typ if typ is not None else self.spark_arrow.field(i).type,
                    metadata=meta,
                )
            )
        return pa.schema(fields)

    def totals(self) -> tuple[int, int]:
        """(rows, bytes) — metadata only, no scan. Rows are the manifest's
        recorded per-file row counts (a footer read where one is missing);
        pending merge-on-read delete files subtract their positions (each
        delete row names one deleted data row). Pending EQUALITY deletes
        cannot be costed without a scan (the key set's match count is
        unknown until applied), so totals may overcount until compaction
        materializes them — the same approximation Iceberg metadata
        tables make."""
        if self._totals is None:
            t, snap = self.table, self.snap
            rows = bytes_ = 0
            for f in snap.manifest:
                rows += t._file_rows(snap, f)
                bytes_ += os.path.getsize(os.path.join(t.path, f))
            for f in snap.delete_files:
                rows -= pq.read_metadata(os.path.join(t.path, f)).num_rows
            self._totals = rows, bytes_
        return self._totals


class IceFlightServer(flight.FlightServerBase):
    def __init__(
        self,
        connector: Connector,
        host: str = "0.0.0.0",
        port: int = DEFAULT_PORT,
        chunk_rows: int = STREAM_BATCH_ROWS,
    ):
        location = f"grpc://{host}:{port}"
        super().__init__(location)
        self.connector = connector
        self.chunk_rows = chunk_rows
        self._host = host
        # self.port resolves the real bound port (0 -> ephemeral)
        self._plans: OrderedDict = OrderedDict()  # (path, snapshot id) -> plan
        self._plans_lock = threading.Lock()

    # ------------------------------------------------------------------ #
    # helpers
    # ------------------------------------------------------------------ #

    def _advertised_location(self) -> flight.Location:
        host = "localhost" if self._host in ("0.0.0.0", "::") else self._host
        return flight.Location.for_grpc_tcp(host, self.port)

    def _table(self, name) -> IceTable:
        """Handle of the one named table (no catalog listing); an invalid
        name is reported like a missing table."""
        try:
            return self.connector.table(name)
        except (TypeError, ValueError):
            raise flight.FlightServerError(f"table not found: {name}") from None

    def _existing(self, name) -> IceTable:
        t = self._table(name)
        if not t.exists():
            raise flight.FlightServerError(f"table not found: {name}")
        return t

    def _current(self, name) -> _ServePlan:
        """Plan of the named table's current snapshot. This is an RPC's
        ONE snapshot read: id, schema, totals and files of its reply all
        describe the same table version even if a commit lands mid-RPC."""
        t = self._table(name)
        snap = t.current_snapshot()
        if snap is None:
            raise flight.FlightServerError(f"table not found: {name}")
        return self._plan(t, snap)

    def _plan(self, t: IceTable, snap: Snapshot) -> _ServePlan:
        """The serve plan of ``snap``, from the LRU or built now."""
        key = (t.path, snap.snapshot_id)
        with self._plans_lock:
            plan = self._plans.get(key)
            if plan is not None:
                self._plans.move_to_end(key)
                return plan
        # built outside the lock: two RPCs racing on a new snapshot may
        # both build it, and either result is the same plan
        plan = _ServePlan(t, snap)
        with self._plans_lock:
            self._plans[key] = plan
            while len(self._plans) > PLAN_CACHE_SIZE:
                self._plans.popitem(last=False)
        return plan

    @staticmethod
    def _typed_preds(plan: _ServePlan, where) -> list[tuple]:
        """JSON ticket ``where`` (list of [col, op, value] conjuncts,
        date/timestamp values as ISO strings) -> typed predicates keyed to
        the snapshot schema — the same triples ``IceTable.scan(where=)``
        takes, so manifest pruning and the residual filter agree with the
        table API exactly."""
        preds = _normalize_predicates([tuple(p) for p in where])
        out = []
        for col, op, val in preds:
            if col not in plan.types:
                raise flight.FlightServerError(f"unknown column in where: {col}")
            if op in ("is_null", "is_not_null"):
                out.append((col, op, None))
                continue
            dt = plan.types[col]
            out.append(
                (
                    col,
                    op,
                    [_decode_bound(dt, x) for x in val]
                    if op in ("in", "not_in")
                    else _decode_bound(dt, val),
                )
            )
        return out

    @staticmethod
    def _arrow_filter(preds: list[tuple], rename: dict | None = None):
        """Predicate conjunction as a pyarrow dataset filter — row-exact
        results AND parquet row-group statistics skipping, still without
        engaging Spark. ``rename`` maps logical -> physical column names
        for post-rename file groups."""
        import pyarrow.compute as pc

        expr = None
        for col, op, val in preds:
            f = pc.field((rename or {}).get(col, col))
            e = {
                "=": lambda: f == val,
                "<": lambda: f < val,
                "<=": lambda: f <= val,
                ">": lambda: f > val,
                ">=": lambda: f >= val,
                "in": lambda: f.isin(list(val)),
                "!=": lambda: f != val,
                "not_in": lambda: ~f.isin(list(val)),
                "is_null": lambda: f.is_null(),
                "is_not_null": lambda: ~f.is_null(),
            }[op]()
            expr = e if expr is None else expr & e
        return expr

    @staticmethod
    def _const_satisfies(pv, op, val, dtype) -> bool:
        """Evaluate one predicate against a group-constant partition value
        (a decoded hive path string; None = hive null partition). EXACT,
        not conservative — the value is constant for every row of the
        group, so a False skips the group and a True drops the conjunct."""
        if op == "is_null":
            return pv is None
        if op == "is_not_null":
            return pv is not None
        if pv is None:
            return False  # SQL comparison semantics: NULL matches nothing
        t = dtype.typeName()
        try:
            if t in ("integer", "long", "short", "byte"):
                v = int(pv)
            elif t in ("float", "double"):
                v = float(pv)
            elif t == "boolean":
                # hive renders booleans lowercase in paths
                v = {"true": True, "false": False}.get(str(pv).lower())
                if v is None:
                    return True
            else:
                v = _decode_bound(dtype, pv)
        except (TypeError, ValueError):
            return True  # undecodable -> keep the group (conservative)
        try:
            if op == "=":
                return v == val
            if op == "<":
                return v < val
            if op == "<=":
                return v <= val
            if op == ">":
                return v > val
            if op == ">=":
                return v >= val
            if op == "in":
                return v in list(val)
            if op == "!=":
                return v != val
            if op == "not_in":
                return v not in list(val)
        except TypeError:
            return True
        return True

    def _stream_resolved(
        self, plan: _ServePlan, files_rel, keys=None, preds=None, columns=None
    ):
        """File-stream ``files_rel`` under the plan snapshot's logical names.
        No schema evolution in play -> the zero-copy single-dataset path.
        Otherwise: one dataset scan per physical layout, each batch's
        columns renamed (zero-copy — Arrow rename is metadata) / padded
        with typed nulls to the logical schema. Memory stays bounded by
        chunk_rows either way. ``preds`` (typed conjuncts) become pyarrow
        dataset filters — row-exact, with parquet row-group skipping — and
        evaluate against group-constant partition values driver-side.
        ``columns`` projects the stream (normalized to table-schema order
        by the ticket handlers): only those column chunks are decoded and
        leave the server; predicates may still name dropped columns.
        ``keys`` overrides the manifest's layout keys (:meth:`_ServePlan.groups`)."""
        groups = plan.groups(files_rel, keys)
        identity = all(
            p == l for _, pairs, _pv in groups for p, l in pairs
        ) and not any(pv for _f, _p, pv in groups)
        if len(groups) <= 1 and identity:
            files = groups[0][0] if groups else []
            arrow_schema = plan.footer(files[0]) if files else plan.spark_arrow
            return self._stream_files(
                files, arrow_schema,
                filt=self._arrow_filter(preds) if preds else None,
                columns=columns,
            )
        out_schema = plan.arrow_schema
        if columns is not None:
            out_schema = pa.schema([out_schema.field(c) for c in columns])
        types, defaults = plan.types, plan.defaults

        def _const(val_str, n, typ):
            """Group-constant partition column as a typed Arrow array."""
            if val_str is None:
                return pa.nulls(n, type=typ)
            return pa.array([val_str] * n, type=pa.string()).cast(typ)

        def gen():
            for files, pairs, pvals in groups:
                if not files:
                    continue
                # split the conjunction per group: predicates on columns
                # physically IN the files filter via pyarrow (under the
                # group's physical names); predicates on group-constant
                # partition values (or columns added after this group was
                # written, which read as NULL) resolve driver-side —
                # False skips the whole group, True drops the conjunct
                rename = {l: p for p, l in pairs if p is not None}
                file_preds, skip = [], False
                for pred in preds or []:
                    col, op, val = pred
                    if col in rename:
                        file_preds.append(pred)
                    else:
                        # group-constant value: the hive partition value,
                        # or — for a column added after this group was
                        # written — its declared initial default
                        pv = pvals.get(col)
                        if col not in pvals and col in defaults:
                            pv = str(defaults[col])
                        if not self._const_satisfies(
                            pv, op, val, types[col]
                        ):
                            skip = True
                            break
                if skip:
                    continue
                footer = plan.footer(files[0])
                phys = [p for p, _ in pairs if p is not None]
                read_schema = pa.schema([footer.field(p) for p in phys])
                # projection: emit pairs in out_schema order; the dataset
                # schema keeps every physical column visible so filters
                # on non-projected columns still evaluate, the scanner's
                # column list decodes only what leaves the server
                pair_of = {l: p for p, l in pairs}
                out_pairs = [(pair_of.get(l), l) for l in out_schema.names]
                proj_phys = [p for p, _ in out_pairs if p is not None]
                idx = {p: i for i, p in enumerate(proj_phys)}
                dataset = pads.dataset(files, format="parquet", schema=read_schema)
                scanner = dataset.scanner(
                    batch_size=self.chunk_rows,
                    columns=proj_phys,
                    filter=(
                        self._arrow_filter(file_preds, rename)
                        if file_preds
                        else None
                    ),
                )
                for batch in scanner.to_reader():
                    arrays = []
                    for p, l in out_pairs:
                        typ = out_schema.field(l).type
                        if p is not None:
                            arrays.append(batch.column(idx[p]))
                        elif l in pvals:
                            arrays.append(_const(pvals[l], batch.num_rows, typ))
                        elif l in defaults:
                            arrays.append(
                                pa.array([defaults[l]] * batch.num_rows).cast(typ)
                            )
                        else:
                            arrays.append(pa.nulls(batch.num_rows, type=typ))
                    yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

        return flight.GeneratorStream(out_schema, gen())

    @staticmethod
    def _proj_columns(plan: _ServePlan, cols) -> list | None:
        """Validate and normalize a ticket's ``columns`` projection to
        table-schema order (deterministic batches regardless of request
        order). Unknown names error loudly — silently serving a subset
        would corrupt a client's positional decoding."""
        if not cols:
            return None
        names = plan.arrow_schema.names
        unknown = [c for c in cols if c not in names]
        if unknown:
            raise flight.FlightServerError(
                f"unknown columns: {unknown} (table has {names})"
            )
        want = set(cols)
        return [n for n in names if n in want]

    def _stream_files(
        self, files: list[str], schema: pa.Schema, filt=None, columns=None
    ) -> flight.RecordBatchStream:
        # ``columns`` projects the stream: only those parquet column
        # chunks are decoded and cross the wire. Filters may reference
        # non-projected columns — the dataset schema keeps them visible
        # to the scanner, the projection drops them from the output.
        if columns is not None:
            out_schema = pa.schema([schema.field(c) for c in columns])
        else:
            out_schema = schema
        if not files:
            return flight.GeneratorStream(out_schema, iter([pa.RecordBatch.from_pylist([], schema=out_schema)]))
        dataset = pads.dataset(files, format="parquet", schema=schema)
        reader = dataset.scanner(
            batch_size=self.chunk_rows, filter=filt, columns=columns
        ).to_reader()
        return flight.RecordBatchStream(reader)

    def _stream_df(self, df) -> flight.GeneratorStream:
        # SQL-ticket serve path: NEVER materialize the result in server
        # memory. Spark executes the query and spills the result to
        # parquet (a distributed write — executors stream partitions to
        # disk), then the server file-streams it exactly like a
        # full-table read: memory is bounded by chunk_rows regardless of
        # result size, and `SELECT *` on a huge table costs disk, not
        # server RAM. The spill dir is deleted when the client drains or
        # abandons the stream (generator finalization).
        import shutil
        import tempfile

        tmp = tempfile.mkdtemp(prefix="iceflight-sqlres-")
        out = os.path.join(tmp, "result")
        df.write.mode("overwrite").parquet(out)
        files = sorted(
            os.path.join(out, f) for f in os.listdir(out) if f.endswith(".parquet")
        )
        schema = pq.read_schema(files[0]) if files else _spark_schema_to_arrow(df.schema)

        def gen():
            try:
                if not files:
                    yield pa.RecordBatch.from_pylist([], schema=schema)
                    return
                dataset = pads.dataset(files, format="parquet", schema=schema)
                for batch in dataset.scanner(batch_size=self.chunk_rows).to_reader():
                    yield batch
            finally:
                shutil.rmtree(tmp, ignore_errors=True)

        return flight.GeneratorStream(schema, gen())

    # ------------------------------------------------------------------ #
    # Flight verbs
    # ------------------------------------------------------------------ #

    def list_flights(self, context, criteria):
        for name in self.connector.tables:
            yield self._make_table_info(name, self._current(name))

    def _make_table_info(self, name: str, plan: _ServePlan) -> flight.FlightInfo:
        rows, nbytes = plan.totals()
        endpoint = flight.FlightEndpoint(name.encode(), [self._advertised_location()])
        return flight.FlightInfo(
            plan.arrow_schema, flight.FlightDescriptor.for_path(name.encode()),
            [endpoint], rows, nbytes,
        )

    def _command_info(self, cmd: dict, schema: pa.Schema) -> flight.FlightInfo:
        ticket = json.dumps(cmd).encode()
        endpoint = flight.FlightEndpoint(ticket, [self._advertised_location()])
        return flight.FlightInfo(
            schema,
            flight.FlightDescriptor.for_command(ticket),
            [endpoint],
            -1,
            -1,
        )

    def get_flight_info(self, context, descriptor):
        if descriptor.descriptor_type == flight.DescriptorType.PATH:
            if not descriptor.path:
                raise flight.FlightServerError("empty path descriptor")
            name = descriptor.path[0].decode()
            return self._make_table_info(name, self._current(name))

        raw = descriptor.command
        if raw == b"LIST_TABLES":
            cmd = {"command": "list_tables"}
            return self._command_info(cmd, pa.schema([("table_name", pa.string())]))
        try:
            cmd = json.loads(raw.decode())
        except (UnicodeDecodeError, json.JSONDecodeError):
            raise flight.FlightServerError(f"unrecognized command: {raw[:64]!r}")

        if "sql" in cmd:
            df = self.connector.sql_df(cmd["sql"])
            return self._command_info(cmd, _spark_schema_to_arrow(df.schema))

        op = cmd.get("command")
        table = cmd.get("table")
        if op == "list_tables":
            return self._command_info(cmd, pa.schema([("table_name", pa.string())]))
        if op in ("get_schema", "get_changes"):
            return self._command_info(cmd, self._current(table).arrow_schema)
        if op == "get_changelog":
            schema = self._current(table).arrow_schema.append(
                pa.field("_change_type", pa.string())
            )
            return self._command_info(cmd, schema)
        if op == "get_metadata":
            self._existing(table)
            return self._command_info(
                cmd,
                pa.schema(
                    [("snapshot_id", pa.int64()), ("total_rows", pa.int64()),
                     ("total_bytes", pa.int64()),
                     ("partition_spec", pa.string())]
                ),
            )
        if op == "get_slices":
            # Parallel serve path: N endpoints, each ticket a disjoint
            # round-robin slice of the CURRENT snapshot's manifest, pinned
            # by snapshot_id so concurrent commits can't tear a read —
            # every slice resolves the same frozen file list. At 100 TB
            # this is how a table leaves the server: k clients each pull
            # 1/k of the files concurrently instead of one serial stream
            # (the multi-endpoint design SURVEY.md §7 calls for).
            plan = self._current(table)
            t, snap = plan.table, plan.snap
            n = max(1, int(cmd.get("n", 4)))
            where = cmd.get("where") or []
            if snap.delete_files or snap.eq_delete_files:
                # manifest slicing can't honor pending merge-on-read
                # (positional or equality) deletes; degrade to ONE
                # delete-applied endpoint
                n = 1
            elif where:
                # predicate pushdown: size the endpoint fan-out by the
                # PRUNED file count, not the manifest — a selective read
                # of a huge table gets few streams, each moving only
                # matching files (tickets carry the where; get_slice
                # re-prunes against the pinned snapshot, so slices stay
                # disjoint and exhaustive)
                pruned = t._prune_files(
                    snap, snap.manifest, self._typed_preds(plan, where)
                )
                n = max(1, min(n, len(pruned)))
            schema = plan.arrow_schema
            cols = self._proj_columns(plan, cmd.get("columns"))
            if cols:
                # column projection rides every slice ticket: each stream
                # decodes and ships only the requested column chunks
                schema = pa.schema([schema.field(c) for c in cols])
            rows, nbytes = plan.totals()
            endpoints = [
                flight.FlightEndpoint(
                    json.dumps(
                        {
                            "command": "get_slice",
                            "table": table,
                            "index": i,
                            "of": n,
                            "snapshot_id": snap.snapshot_id,
                            **({"where": where} if where else {}),
                            **({"columns": cols} if cols else {}),
                        }
                    ).encode(),
                    [self._advertised_location()],
                )
                for i in range(n)
            ]
            return flight.FlightInfo(
                schema,
                flight.FlightDescriptor.for_command(json.dumps(cmd).encode()),
                endpoints,
                rows,
                nbytes,
            )
        raise flight.FlightServerError(f"unknown command: {cmd!r}")

    def do_get(self, context, ticket):
        raw = ticket.ticket
        try:
            cmd = json.loads(raw.decode())
            if not isinstance(cmd, dict):
                raise ValueError
        except (UnicodeDecodeError, json.JSONDecodeError, ValueError):
            # raw table-name ticket (reference parity, icerunner.py:272-282)
            plan = self._current(raw.decode())
            snap = plan.snap
            if snap.delete_files or snap.eq_delete_files:
                # pending merge-on-read deletes (positional anti-join or
                # equality keys) — Spark applies them and the result
                # file-streams from a parquet spill (same bounded-memory
                # path as SQL tickets). Compaction materializes the
                # deletes and restores zero-copy manifest streaming.
                return self._stream_df(plan.table._scan_snapshot(snap))
            return self._stream_resolved(plan, snap.manifest)

        if "sql" in cmd:
            return self._stream_df(self.connector.sql_df(cmd["sql"]))

        op = cmd.get("command")
        if op == "list_tables":
            names = self.connector.tables
            return flight.RecordBatchStream(
                pa.table({"table_name": pa.array(names, pa.string())})
            )
        if op == "get_schema":
            schema = self._current(cmd["table"]).arrow_schema
            empty = pa.RecordBatch.from_pylist([], schema=schema)
            return flight.GeneratorStream(schema, iter([empty]))
        if op == "get_changes":
            name = cmd["table"]
            snapshot_id = cmd.get("snapshot_id")
            if snapshot_id in ("", None, "full_sync", "unknown"):
                snapshot_id = None
            else:
                snapshot_id = int(snapshot_id)
            end_snapshot_id = cmd.get("end_snapshot_id")
            end_snapshot_id = None if end_snapshot_id is None else int(end_snapshot_id)
            t = self._table(name)
            snaps = t.snapshots()
            if not snaps:
                raise flight.FlightServerError(f"table not found: {name}")
            # validate ids up front so the ordering error is precise: an
            # end that precedes the start used to surface as a misleading
            # "unknown snapshot: <start>" (the walk broke at end first)
            ids = [s.snapshot_id for s in snaps]
            if snapshot_id is not None and snapshot_id not in ids:
                raise flight.FlightServerError(f"unknown snapshot: {snapshot_id}")
            if end_snapshot_id is not None:
                if end_snapshot_id not in ids:
                    raise flight.FlightServerError(
                        f"unknown end snapshot: {end_snapshot_id}"
                    )
                if snapshot_id is not None and ids.index(end_snapshot_id) < ids.index(snapshot_id):
                    raise flight.FlightServerError(
                        f"end snapshot {end_snapshot_id} precedes start "
                        f"snapshot {snapshot_id} in table history"
                    )
            started = snapshot_id is None
            seen_end = end_snapshot_id is None
            files: list[str] = []
            # physical-name mappings come from the CONTRIBUTING snapshots
            # (a later compaction prunes replaced dirs from current's map)
            mappings: dict = {}
            ctx = None
            for s in snaps:
                if started:
                    # Mirror IceTable.scan_changes' contract (table.py): an
                    # overwrite in range invalidates append-only diffing —
                    # erroring here forces mirror clients onto their
                    # full-overwrite resync path instead of silently
                    # appending rows the source logically deleted.
                    if s.operation in ("overwrite", "delete", "merge", "rollback"):
                        raise flight.FlightServerError(
                            "get_changes crosses an overwrite/delete/merge "
                            "snapshot; incremental diff is append-only — "
                            "full resync required"
                        )
                    if s.operation != "replace":
                        # 'replace' = compaction, same rows -> no delta
                        files.extend(s.added_files)
                        for f in s.added_files:
                            d = _commit_dir_of(f)
                            if d in s.file_mappings:
                                mappings[d] = s.file_mappings[d]
                if s.snapshot_id == snapshot_id:
                    started = True
                if end_snapshot_id is not None and s.snapshot_id == end_snapshot_id:
                    seen_end = True
                    ctx = s
                    break
            if not started:
                raise flight.FlightServerError(f"unknown snapshot: {snapshot_id}")
            if not seen_end:
                raise flight.FlightServerError(
                    f"unknown end snapshot: {end_snapshot_id}"
                )
            # the walk's last snapshot is the current one at listing time:
            # its schema describes exactly the files walked
            plan = self._plan(t, ctx or snaps[-1])
            keys = _layout_keys(plan.snap, files, plan.logical, mappings)
            return self._stream_resolved(plan, files, keys)
        if op == "get_changelog":
            # Row-level incremental read (insert/delete rows with a
            # _change_type column) — the delta that SURVIVES merge-on-read
            # maintenance where get_changes' append-only contract refuses.
            # Mirror clients try get_changes first (zero-copy file stream),
            # fall to this, and only full-resync on a true overwrite.
            name = cmd["table"]
            snapshot_id = cmd.get("snapshot_id")
            if snapshot_id in ("", None, "full_sync", "unknown"):
                snapshot_id = None
            else:
                snapshot_id = int(snapshot_id)
            end_snapshot_id = cmd.get("end_snapshot_id")
            end_snapshot_id = None if end_snapshot_id is None else int(end_snapshot_id)
            t = self._table(name)
            try:
                df = t.scan_changelog(
                    snapshot_id, end_snapshot_id,
                    with_lineage=bool(cmd.get("lineage")),
                )
            except ValueError as e:
                raise flight.FlightServerError(str(e))
            # spill-backed stream: the delta is written by Spark's
            # distributed writer and file-streamed — server memory stays
            # bounded by chunk_rows regardless of delta size
            return self._stream_df(df)
        if op == "scan":
            # predicate-pushdown read: the server prunes the file list
            # against the manifest's column bounds / partition transforms
            # (zero IO for excluded files), then the pyarrow stream
            # applies the residual filter row-exactly — a filtered table
            # leaves the server as O(matching files + matching rows), no
            # Spark engaged unless merge-on-read deletes are pending
            name = cmd["table"]
            t = self._table(name)
            # remote time travel: the ticket may pin a snapshot id, a
            # named tag, or a wall-clock timestamp (VERSION/TIMESTAMP AS
            # OF over the wire) — resolution mirrors IceTable.scan
            try:
                snap_id = cmd.get("snapshot_id")
                if cmd.get("tag") is not None:
                    refs = t.tags()
                    if cmd["tag"] not in refs:
                        raise ValueError(f"no such tag: {cmd['tag']}")
                    snap_id = refs[cmd["tag"]]
                if cmd.get("as_of_ms") is not None:
                    older = [
                        s
                        for s in t.snapshots()
                        if s.timestamp_ms <= int(cmd["as_of_ms"])
                    ]
                    if not older:
                        raise ValueError(
                            f"no snapshot at or before {cmd['as_of_ms']}"
                        )
                    snap_id = older[-1].snapshot_id
                snap = (
                    t.current_snapshot()
                    if snap_id is None
                    else t.snapshot_by_id(int(snap_id))
                )
            except ValueError as e:
                raise flight.FlightServerError(str(e))
            if snap is None:
                raise flight.FlightServerError(f"table not found: {name}")
            plan = self._plan(t, snap)
            preds = self._typed_preds(plan, cmd.get("where") or [])
            cols = self._proj_columns(plan, cmd.get("columns"))
            if snap.delete_files or snap.eq_delete_files:
                df = t._scan_snapshot(snap)
                if preds:
                    df = df.where(_predicates_to_column(preds))
                if cols:
                    df = df.select(*cols)
                return self._stream_df(df)
            files = t._prune_files(snap, snap.manifest, preds)
            return self._stream_resolved(plan, files, preds=preds, columns=cols)
        if op == "get_slice":
            t = self._table(cmd["table"])
            snap = t.snapshot_by_id(int(cmd["snapshot_id"]))
            plan = self._plan(t, snap)
            i, n = int(cmd["index"]), int(cmd["of"])
            preds = self._typed_preds(plan, cmd.get("where") or [])
            cols = self._proj_columns(plan, cmd.get("columns"))
            if snap.delete_files or snap.eq_delete_files:
                # deletes pending: the manifest under-describes the rows,
                # so slicing can't apply. get_slices advertises ONE
                # endpoint, but clients that CRAFT i-of-n tickets (the
                # streaming CDC source's initial load) still send every
                # index — serve the full delete-applied scan on slice 0
                # ONLY and empty streams for the rest, or each slice
                # would duplicate the whole table.
                if i != 0:
                    schema = plan.arrow_schema
                    if cols:
                        schema = pa.schema([schema.field(c) for c in cols])
                    return flight.GeneratorStream(
                        schema,
                        iter([pa.RecordBatch.from_pylist([], schema=schema)]),
                    )
                df = t._scan_snapshot(snap)
                if preds:
                    df = df.where(_predicates_to_column(preds))
                if cols:
                    df = df.select(*cols)
                return self._stream_df(df)
            # prune FIRST, slice the pruned list: every crafted i-of-n
            # ticket against the same pinned snapshot + where sees the
            # same file list, so slices stay disjoint and exhaustive
            files = (
                t._prune_files(snap, snap.manifest, preds)
                if preds
                else snap.manifest
            )
            return self._stream_resolved(
                plan, files[i::n], preds=preds, columns=cols
            )
        if op == "get_metadata":
            # ONE snapshot read: id, totals, spec and properties describe
            # the same table version (a commit racing between separate
            # reads would hand mirror clients a mixed reply)
            plan = self._current(cmd["table"])
            snap = plan.snap
            rows, nbytes = plan.totals()
            snap_id = snap.snapshot_id
            spec = list(snap.partition_spec)
            props = dict(snap.properties)
            return flight.RecordBatchStream(
                pa.table(
                    {
                        "snapshot_id": pa.array([snap_id], pa.int64()),
                        "total_rows": pa.array([rows], pa.int64()),
                        "total_bytes": pa.array([nbytes], pa.int64()),
                        # mirror clients replicate the layout, not just
                        # the rows (table.py partition_spec)
                        "partition_spec": pa.array(
                            [json.dumps(spec)], pa.string()
                        ),
                        # table properties ride along so remote readers
                        # see write-path config (bloom/ndv columns etc.)
                        "properties": pa.array(
                            [json.dumps(props)], pa.string()
                        ),
                    }
                )
            )
        raise flight.FlightServerError(f"unknown ticket: {cmd!r}")

    def do_put(self, context, descriptor, reader, writer):
        if not descriptor.path:
            raise flight.FlightServerError("do_put requires a path descriptor")
        # parity: the reference's do_put does not auto-create
        # (icerunner.py:284-295)
        t = self._existing(descriptor.path[0].decode())
        from icerunner_spark.connector import arrow_to_df

        # Stage data files per row-capped chunk (constant memory — the
        # reference buffers the whole upload, icerunner.py:287-291) but
        # publish ONE snapshot at stream end: an interrupted upload leaves
        # only orphan files invisible to readers, and a client retry can't
        # duplicate half-committed chunks.
        staged: list[str] = []
        pending: list[pa.RecordBatch] = []
        pending_rows = 0
        try:
            for chunk in reader:
                batch = chunk.data
                if batch is None or batch.num_rows == 0:
                    continue
                pending.append(batch)
                pending_rows += batch.num_rows
                if pending_rows >= self.chunk_rows:
                    staged += t.stage_append(
                        arrow_to_df(self.connector.spark, pa.Table.from_batches(pending))
                    )
                    pending, pending_rows = [], 0
            if pending:
                staged += t.stage_append(
                    arrow_to_df(self.connector.spark, pa.Table.from_batches(pending))
                )
        except Exception:
            # a failed upload (client abort, schema mismatch on a later
            # chunk) must not leak its staged-but-unpublished files —
            # best-effort delete; anything that survives a crash here is
            # caught by IceTable.remove_orphans()
            for f in staged:
                try:
                    os.remove(os.path.join(t.path, f))
                except OSError:
                    pass
            raise
        if staged:
            t.publish_append(staged)


def serve(
    warehouse_path: str,
    host: str = "0.0.0.0",
    port: int = DEFAULT_PORT,
    spark=None,
    bootstrap_demo: str | None = None,
) -> IceFlightServer:
    """Create connector + server (does not block; call .serve() or use
    run_server for the blocking CLI path)."""
    from icerunner_spark.session import get_spark

    spark = spark or get_spark(app_name="icerunner_flight_server")
    connector = Connector(spark, warehouse_path)
    if bootstrap_demo:
        from icerunner_spark.sample_data import bootstrap_demo_tables

        bootstrap_demo_tables(connector, bootstrap_demo)
    return IceFlightServer(connector, host=host, port=port)
