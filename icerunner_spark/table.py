"""Snapshot-versioned parquet table format ("icetable").

Re-implements the storage semantics the reference gets from Apache Iceberg
(PyIceberg SQL catalog + DuckDB ``iceberg_scan``, icerunner.py:60-103,
133-178, 209-259) as a self-contained, Spark-native lake format:

- A table is a directory::

      <warehouse>/<namespace>/<table>/
          data/snap-<seq>/part-*.parquet     (files written by one commit)
          metadata/snap-<seq>.json           (immutable snapshot manifest)
          metadata/current                   (pointer file, atomically replaced)

- Every commit (create/append/overwrite) writes new parquet files — with
  Spark's distributed writer, or in-process with pyarrow when an Arrow
  table is appended to an unpartitioned table (:meth:`IceTable.
  stage_append`) — then publishes an immutable snapshot manifest
  listing **added files** and the **full file set**, then atomically swaps
  the ``current`` pointer (``os.replace``). Readers resolve ``current``
  once per query, so they always see a consistent snapshot — the moral
  equivalent of Iceberg's atomic snapshot commit (icerunner.py:171-172)
  without the reference's per-query view reflection (icerunner.py:82-103).

- Optimistic concurrency: manifests are created with ``open(..., "x")``.
  Two racing writers target the same sequence number; the loser gets
  ``FileExistsError`` and retries against the new state. This is the commit
  protocol Iceberg uses (CAS on the metadata pointer), scoped to a
  filesystem with atomic create/rename. On an object store a real
  deployment would swap this for a conditional-put; the interface is
  unchanged.

- Time travel: ``scan(snapshot_id=...)`` reads the file list of that
  manifest. Incremental CDC: ``scan_changes(a, b)`` reads only files added
  in ``(a, b]`` — a *true* append diff, unlike the reference's theta-join
  against the snapshots metadata table which duplicates every current row
  per matching snapshot (icerunner.py:224-259, documented delta).

Scale notes (100 TB design): DataFrame data moves through Spark's
distributed parquet reader/writer — the driver only touches manifest JSON
(O(#files) strings, no row data); Arrow appends are written where they
already sit, in driver memory, one bounded chunk at a time. File lists
are stored relative to the table root so a warehouse can be relocated
(the reference needed ``allow_moved_paths=true`` for this,
icerunner.py:98). For truly huge tables the manifest would graduate to
parquet manifests + a metadata tree like Iceberg's; the commit protocol
would not change.
"""

from __future__ import annotations

import contextlib
import copy
import json
import os
import shutil
import threading
import time
import uuid
from collections import OrderedDict
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from icerunner_spark.plans import is_costly_lineage


class CommitConflict(Exception):
    """Raised when optimistic commit loses the race too many times."""


class NoSuchTableError(Exception):
    pass


class DirLayout(NamedTuple):
    """How one commit dir's files were written: ``mapping`` (field id as
    a string -> physical column name; None for a dir written before
    field ids, whose columns resolve by name), ``seq`` (the sequence of
    the commit that added the dir; an equality delete applies to dirs
    strictly older than itself) and ``spec`` (the partition spec the
    files were written under; None for a dir written before per-dir
    specs, which reads under its snapshot's spec)."""

    mapping: dict | None
    seq: int
    spec: list | None

    def physical(self, fid: str, name: str) -> str | None:
        """The physical column holding field ``fid`` (logical ``name``)
        in this dir's files; None when the dir predates the field."""
        return name if self.mapping is None else self.mapping.get(fid)


def _layout_of(layouts: dict, d: str, spec: list) -> DirLayout:
    """Commit dir ``d``'s layout record with the legacy defaults applied
    — the one place they live: a dir without a record resolves columns
    by name and has sequence 0 (older than every equality delete), and a
    dir without a recorded spec reads under ``spec``."""
    rec = layouts.get(d)
    if rec is None:
        return DirLayout(None, 0, list(spec or []))
    return rec if rec.spec is not None else rec._replace(spec=list(spec or []))


# the per-dir maps snapshot files carried before layout records moved
# into the manifest segments; still read, and still written by to_json
_LAYOUT_MAP_KEYS = ("file_mappings", "dir_seqs", "dir_specs")


def _layouts_from_maps(d: dict, manifest: list[str]) -> dict:
    """Layout records of the live dirs of a snapshot file that carries
    the per-dir maps (``_LAYOUT_MAP_KEYS``)."""
    mappings, seqs, specs = (d.get(k) or {} for k in _LAYOUT_MAP_KEYS)
    dirs = set(mappings) | set(seqs) | set(specs)
    if dirs:
        dirs &= {_commit_dir_of(f) for f in manifest}
    return {
        x: DirLayout(mappings.get(x), int(seqs.get(x, 0)), specs.get(x))
        for x in dirs
    }


@dataclass
class Snapshot:
    snapshot_id: int
    sequence: int
    parent_id: int | None
    timestamp_ms: int
    operation: str  # create | append | overwrite
    added_files: list[str]
    manifest: list[str]  # full file set at this snapshot (relative paths)
    schema_json: str
    summary: dict = field(default_factory=dict)
    # Field-id indirection (Iceberg schema-evolution parity): columns are
    # identified by a stable integer id, not by name. ``field_ids`` maps the
    # snapshot's LOGICAL column names to ids; each commit dir's layout
    # record (``layouts``) holds the PHYSICAL name each id was written
    # under. Rename = metadata-only id remap; a re-added name gets a fresh
    # id so bytes written under the dropped id can never resurface.
    field_ids: dict = field(default_factory=dict)  # logical name -> id
    next_field_id: int = 1
    # Identity partition spec (Iceberg partition-spec parity, minus
    # transforms — derive transform columns with e.g.
    # sources.layout.with_date_partition before writing). Data files land
    # under hive-style ``col=value/`` directories; scans rebuild the
    # columns from the paths and Catalyst prunes partitions at planning.
    partition_spec: list = field(default_factory=list)
    # Positional delete files (Iceberg v2 merge-on-read parity): parquet
    # files of (file_path, pos) rows naming deleted positions in data
    # files. Scans anti-join them; compaction materializes and clears.
    delete_files: list = field(default_factory=list)
    # Equality delete files (Iceberg v2's second delete flavor): each
    # entry is [path, [field_id, ...], sequence] — a parquet of KEY
    # VALUES (columns named __eq_<field_id>, rename-proof) deleting every
    # row equal on those fields from data files committed STRICTLY BEFORE
    # ``sequence`` (so re-inserting a deleted key later survives —
    # Iceberg's sequence-number rule). Committing one is O(keys) with no
    # table read at all — even cheaper than positional deletes for
    # key-addressed CDC apply. The dir's layout record carries the
    # sequence of the commit that wrote its files.
    eq_delete_files: list = field(default_factory=list)
    # One :class:`DirLayout` per live commit dir: its physical names, its
    # commit sequence and the partition spec its files were written under
    # (Iceberg keeps the spec id on the manifest and the sequence on the
    # manifest entry). A record is built once, by the commit that adds
    # the dir, and stored in the manifest segment that carries the dir's
    # files; loading a slim snapshot rebuilds this map from its segments.
    # Read it through :meth:`layout`, which applies the legacy defaults.
    layouts: dict = field(default_factory=dict)  # commit dir -> DirLayout
    # Per-data-file column min/max bounds (Iceberg manifest-stats parity):
    # {relpath: {field_id(str): [lo, hi]}} harvested from parquet footers
    # at write time. Planning-time file skipping (plan_files / scan(where=))
    # filters the manifest against these BEFORE building the reader — the
    # driver-side pruning Iceberg does from its manifests, vs relying only
    # on executor-side row-group pruning. Bounds are JSON-native; temporal
    # values are ISO strings, decimals are strings (typed back through the
    # schema at prune time).
    file_stats: dict = field(default_factory=dict)
    # Table properties (Iceberg table-properties parity): free-form
    # string config inherited commit-over-commit; set_properties publishes
    # a metadata-only 'alter'. Write-path config lives here (e.g.
    # ``write.bloom.columns`` — per-file bloom filters for planning-time
    # equality skipping).
    properties: dict = field(default_factory=dict)
    # Initial column defaults (Iceberg v3 ``initial-default`` parity):
    # {field_id(str): JSON-encoded value}. Rows in files written BEFORE
    # the column existed read the default instead of NULL — add_column
    # with a default stays metadata-only, no backfill rewrite.
    field_defaults: dict = field(default_factory=dict)
    # Row lineage (Iceberg v3): the table's next unassigned row id.
    # Each commit allocates a contiguous block per added file (the
    # file's ``__first_row_id__`` stats entry); ``_row_id`` derives as
    # first_row_id + position at read time, ``_last_updated_sequence``
    # as the file's commit sequence. None = pre-lineage legacy snapshot.
    next_row_id: int | None = None
    # Scan-planning index (:class:`_PruneIndex`): the columnar view of
    # ``manifest`` and ``file_stats`` that pruning evaluates conjuncts
    # over. Built on the first pruned scan (:func:`_prune_index`) and
    # shared by every reader of this snapshot through the snapshot
    # cache; derived state, never serialized or compared.
    prune_index: _PruneIndex | None = field(
        default=None, init=False, repr=False, compare=False
    )

    def layout(self, commit_dir: str) -> DirLayout:
        """``commit_dir``'s layout record, legacy defaults applied."""
        return _layout_of(self.layouts, commit_dir, self.partition_spec)

    @property
    def pending_deletes(self) -> bool:
        """Merge-on-read deletes (positional or equality) not yet
        materialized: the manifest alone over-describes the rows."""
        return bool(self.delete_files or self.eq_delete_files)

    def referenced_files(self) -> set[str]:
        """Table-relative paths of every file this snapshot needs: its
        live data files, the files it added, and its positional and
        equality delete files."""
        out = set(self.manifest) | set(self.added_files) | set(self.delete_files)
        for paths, _fids, _seq in self.eq_delete_files:
            out.update(paths)
        return out

    def to_json(self) -> str:
        """The legacy self-contained format: manifest, file stats and the
        per-dir maps inline."""
        lays = self.layouts.items()
        return json.dumps(
            {
                "snapshot_id": self.snapshot_id,
                "sequence": self.sequence,
                "parent_id": self.parent_id,
                "timestamp_ms": self.timestamp_ms,
                "operation": self.operation,
                "added_files": self.added_files,
                "manifest": self.manifest,
                "schema_json": self.schema_json,
                "summary": self.summary,
                "field_ids": self.field_ids,
                "next_field_id": self.next_field_id,
                "file_mappings": {
                    d: r.mapping for d, r in lays if r.mapping is not None
                },
                "partition_spec": self.partition_spec,
                "delete_files": self.delete_files,
                "eq_delete_files": self.eq_delete_files,
                "dir_seqs": {d: r.seq for d, r in lays},
                "dir_specs": {d: r.spec for d, r in lays if r.spec is not None},
                "file_stats": self.file_stats,
                "properties": self.properties,
                "field_defaults": self.field_defaults,
                "next_row_id": self.next_row_id,
            }
        )

    @staticmethod
    def from_json(text: str) -> "Snapshot":
        return Snapshot.from_dict(json.loads(text))

    @staticmethod
    def from_dict(d: dict) -> "Snapshot":
        # Legacy manifests (pre field-id) carry no id metadata: derive ids
        # positionally and record no dir layouts — the read path then
        # falls back to name-based resolution, the old behavior exactly.
        field_ids = d.get("field_ids")
        if not field_ids:
            names = [f["name"] for f in json.loads(d["schema_json"])["fields"]]
            field_ids = {n: i + 1 for i, n in enumerate(names)}
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            sequence=d["sequence"],
            parent_id=d.get("parent_id"),
            timestamp_ms=d["timestamp_ms"],
            operation=d["operation"],
            added_files=d["added_files"],
            manifest=d["manifest"],
            schema_json=d["schema_json"],
            summary=d.get("summary", {}),
            field_ids=field_ids,
            next_field_id=d.get("next_field_id", 1 + max(field_ids.values(), default=0)),
            partition_spec=d.get("partition_spec", []),
            delete_files=d.get("delete_files", []),
            eq_delete_files=d.get("eq_delete_files", []),
            layouts=_layouts_from_maps(d, d["manifest"]),
            file_stats=d.get("file_stats", {}),
            properties=d.get("properties", {}),
            field_defaults=d.get("field_defaults", {}),
            next_row_id=d.get("next_row_id"),
        )


_SEG_CACHE_MAX_BYTES = 4 << 20  # don't pin consolidated full-table segments


def _parse_segment(path: str) -> tuple:
    with open(path) as f:
        seg = json.load(f)
    layouts = {d: DirLayout(**r) for d, r in seg.get("layouts", {}).items()}
    return seg["files"], seg.get("file_stats", {}), layouts


_SEG_CACHE_SIZE = 512  # parsed segments kept per process
_seg_cache: OrderedDict = OrderedDict()  # (segments dir, ref) -> parsed
_seg_cache_lock = threading.Lock()


def _load_segment(seg_dir: str, ref: str) -> tuple:
    """(files, file_stats, layouts) of manifest segment ``ref`` in
    ``seg_dir``: its data files, their stats and the layout record of
    each commit dir they sit in (segments written before layout records
    carry none). Segments are immutable and their uuid names are never
    reused, so caching by name is safe across GC; history walks
    (snapshots(), CDC, expire) parse each segment once per process
    instead of once per snapshot that references it, and a cache hit
    touches neither the path nor the file. Only small (delta-sized)
    segments are cached — an entry-count LRU doesn't bound MEMORY when a
    consolidated segment carries a whole table's file list, so those,
    sized on a miss, parse uncached. Callers treat the returned
    structures as read-only."""
    key = (seg_dir, ref)
    with _seg_cache_lock:
        got = _seg_cache.get(key)
        if got is not None:
            _seg_cache.move_to_end(key)
            return got
    path = os.path.join(seg_dir, ref)
    try:
        small = os.path.getsize(path) <= _SEG_CACHE_MAX_BYTES
    except OSError:
        small = False  # race with GC: the open below raises cleanly
    got = _parse_segment(path)
    if small:
        with _seg_cache_lock:
            _seg_cache[key] = got
            if len(_seg_cache) > _SEG_CACHE_SIZE:
                _seg_cache.popitem(last=False)
    return got


_SNAPSHOT_CACHE_SIZE = 64  # parsed snapshots kept per process
_snapshot_cache: OrderedDict = OrderedDict()
_snapshot_cache_lock = threading.Lock()


def _load_snapshot_payload(text: str, metadata_dir: str) -> Snapshot:
    """Parse a snapshot file in either format:

    - legacy/full: self-contained JSON carrying the whole manifest,
      per-file stats and the per-dir maps inline (``Snapshot.to_json``;
      no longer written, still read);
    - slim (``"format": 2``): the O(files) fields — manifest + file_stats
      — and the commit dirs' layout records live in immutable SEGMENT
      files under ``metadata/segments/``, one per commit's added files;
      the snapshot stores segment refs plus a tombstone list of removed
      paths. A commit's metadata write is then O(delta), not O(table
      files or dirs) — Iceberg's manifest-list indirection — while the
      reconstructed in-memory Snapshot is identical either way. A slim
      file written before the records moved into segments still carries
      the per-dir maps inline; it loads from those, and the next commit,
      fork or fast-forward over it reseeds its state into one segment
      (:func:`_shareable_segments`).
    """
    d = json.loads(text)
    if d.get("format") != 2:
        return Snapshot.from_dict(d)
    seg_dir = os.path.join(metadata_dir, "segments")
    manifest: list[str] = []
    fstats: dict = {}
    layouts: dict = {}
    for ref in d.get("segments", []):
        files, stats, lays = _load_segment(seg_dir, ref)
        manifest.extend(files)
        fstats.update(stats)
        layouts.update(lays)
    tomb = set(d.get("tombstones", []))
    if tomb:
        manifest = [f for f in manifest if f not in tomb]
        live_dirs = {_commit_dir_of(f) for f in manifest}
        layouts = {x: r for x, r in layouts.items() if x in live_dirs}
    live = set(manifest)
    d = dict(d)
    d["manifest"] = manifest
    d["file_stats"] = {f: s for f, s in fstats.items() if f in live}
    snap = Snapshot.from_dict(d)
    if any(k in d for k in _LAYOUT_MAP_KEYS):
        snap._inline_layouts = True  # type: ignore[attr-defined]
    else:
        snap.layouts = layouts
    snap._segments = list(d.get("segments", []))  # type: ignore[attr-defined]
    snap._tombstones = sorted(tomb)  # type: ignore[attr-defined]
    return snap


def _shareable_segments(snap: Snapshot) -> list[str] | None:
    """The segment refs a snapshot written after (or copied from)
    ``snap`` can reference, or None when ``snap``'s state has to be
    reseeded into one segment first: a legacy full-format snapshot has
    no segments, and the segments of a slim one that carries the per-dir
    maps inline hold no layout records. Segment GC still counts the
    latter's refs, so the old snapshot stays readable."""
    if getattr(snap, "_inline_layouts", False):
        return None
    return getattr(snap, "_segments", None)


def _slim_json(snap: Snapshot, segments: list[str], tombstones: list[str]) -> str:
    """``snap`` as slim (format 2) JSON over the given segment refs and
    tombstones. Built field by field: the O(files) manifest and
    file_stats and the O(dirs) layout records live in the segments and
    are never serialized here, which is what keeps a commit's metadata
    CPU O(delta) and not only its IO."""
    return json.dumps(
        {
            "format": 2,
            "snapshot_id": snap.snapshot_id,
            "sequence": snap.sequence,
            "parent_id": snap.parent_id,
            "timestamp_ms": snap.timestamp_ms,
            "operation": snap.operation,
            "added_files": snap.added_files,
            "schema_json": snap.schema_json,
            "summary": snap.summary,
            "field_ids": snap.field_ids,
            "next_field_id": snap.next_field_id,
            "partition_spec": snap.partition_spec,
            "delete_files": snap.delete_files,
            "eq_delete_files": snap.eq_delete_files,
            "properties": snap.properties,
            "field_defaults": snap.field_defaults,
            "next_row_id": snap.next_row_id,
            "segments": segments,
            "tombstones": tombstones,
        }
    )


def _materialize_if_costly(df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` a multiply-consumed delta frame ONLY
    when re-executing its lineage involves real work — a join, aggregate,
    window, explode, sort or shuffle anywhere in the optimized logical
    plan (e.g. the changelog aggregation an incremental-MV refresh feeds
    a merge). A trivial lineage (scan/filter/project) is cheaper to
    recompute two or three times than to materialize: the checkpoint's
    fixed per-call cost (an extra job + executor-local block writes)
    dominated the tiny-delta merge benchmarks (maint merge entries
    1.9-2.5x vs the untouched band), and an
    eager pin of a scan-shaped frame is also the unbounded-size risk the
    MOR paths must avoid (a broad predicate matches a table-sized frame
    and localCheckpoint pins it to executor disk, unrecoverable on
    executor loss). The plan probe runs on the driver only (analysis +
    optimization, no job)."""
    return df.localCheckpoint(eager=True) if is_costly_lineage(df) else df


def _new_snapshot_id() -> int:
    # 63-bit random id, like Iceberg's; sequence number orders commits.
    return uuid.uuid4().int >> 65


def _commit_dir_of(relpath: str) -> str:
    """Commit directory of a data file's table-relative path
    (``data/snap-abc123/part-*.parquet`` -> ``snap-abc123``). All files in
    one commit dir were written by one commit, hence share a write schema."""
    parts = relpath.replace(os.sep, "/").split("/")
    return parts[1] if len(parts) >= 3 and parts[0] == "data" else relpath


def _timestamps_to_us(data: pa.Table) -> pa.Table:
    """Cast top-level timestamp columns to microseconds (Spark's native
    resolution); a cast that would drop sub-microsecond digits raises
    rather than truncating silently."""
    fields = [
        pa.field(f.name, pa.timestamp("us", tz=f.type.tz), f.nullable)
        if pa.types.is_timestamp(f.type) and f.type.unit != "us"
        else f
        for f in data.schema
    ]
    return data.cast(pa.schema(fields))


def _spark_schema_of(data: DataFrame | pa.Table) -> StructType:
    """A DataFrame's schema, or the one ``arrow_to_df`` gives an Arrow
    table (timestamps at microseconds, the session's NTZ preference)."""
    if not isinstance(data, pa.Table):
        return data.schema
    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.utils import is_timestamp_ntz_preferred

    return from_arrow_schema(
        _timestamps_to_us(data.schema.empty_table()).schema,
        prefer_timestamp_ntz=is_timestamp_ntz_preferred(),
    )


def _nullable_arrow(t: pa.DataType) -> pa.DataType:
    """``t`` with every nested field nullable (map keys stay required,
    as Arrow demands)."""
    if pa.types.is_struct(t):
        return pa.struct([pa.field(f.name, _nullable_arrow(f.type)) for f in t])
    if pa.types.is_list(t):
        return pa.list_(pa.field(t.value_field.name, _nullable_arrow(t.value_type)))
    if pa.types.is_map(t):
        return pa.map_(t.key_type, _nullable_arrow(t.item_type))
    return t


def _nulls_narrowed(src, dst) -> bool:
    """Whether Spark type ``dst`` declares NOT NULL somewhere below the
    top level where ``src`` (the same type modulo nullability) allows
    nulls — the cast Spark refuses."""
    from pyspark.sql.types import ArrayType, MapType

    if isinstance(dst, ArrayType):
        return (src.containsNull and not dst.containsNull) or _nulls_narrowed(
            src.elementType, dst.elementType
        )
    if isinstance(dst, MapType):
        return (
            (src.valueContainsNull and not dst.valueContainsNull)
            or _nulls_narrowed(src.keyType, dst.keyType)
            or _nulls_narrowed(src.valueType, dst.valueType)
        )
    if isinstance(dst, StructType):
        return any(
            (a.nullable and not b.nullable) or _nulls_narrowed(a.dataType, b.dataType)
            for a, b in zip(src.fields, dst.fields)
        )
    return False


def _hive_value_str(val) -> str | None:
    """A predicate value formatted the way Spark's hive-partitioned
    writer renders it in the path, for EXACT comparison against a decoded
    path segment. Returns None for types whose rendering we don't pin
    down (floats — Java vs Python formatting differs in scientific
    notation); callers must then keep the file, never prune it."""
    import datetime

    if isinstance(val, bool):
        return "true" if val else "false"
    if isinstance(val, int):
        return str(val)
    if isinstance(val, str):
        return val
    if isinstance(val, (datetime.datetime, datetime.date)):
        return str(val)
    return None


def _hive_partition_values(relpath: str) -> dict:
    """Decode the hive-style ``col=value`` path segments of one data
    file's table-relative path (``data/snap-x/lang=a%2Fb/part-*.parquet``
    -> ``{"lang": "a/b"}``): URL-unescape values and map the
    ``__HIVE_DEFAULT_PARTITION__`` sentinel to None — one parser shared
    by ``files_df`` and the Flight server so escaped characters and null
    partitions decode identically everywhere."""
    from urllib.parse import unquote

    vals: dict = {}
    for seg in relpath.replace(os.sep, "/").split("/")[2:-1]:
        if "=" in seg:
            k, v = seg.split("=", 1)
            vals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else unquote(v)
    return vals


def _schema_names(schema_json_text: str) -> list[str]:
    return [f["name"] for f in json.loads(schema_json_text)["fields"]]


# ---------- partition transforms (Iceberg hidden partitioning) ----------
#
# A partition spec entry is either a bare column name (identity — the
# reference's Iceberg tables support these via PyIceberg, icerunner.py:60-66)
# or a transform over a source column, Iceberg's hidden partitioning:
#
#     bucket(8, o_custkey)   truncate(4, p_type)
#     year(o_orderdate)      month(...)  day(...)  hour(...)
#
# The DERIVED value lands in the hive path (the source column stays in the
# data files), and predicates on the SOURCE column prune the file list at
# planning time — queries never mention the partition column, which is the
# whole point of hidden partitioning.

_XXH_P1 = 0x9E3779B185EBCA87
_XXH_P2 = 0xC2B2AE3D27D4EB4F
_XXH_P3 = 0x165667B19E3779F9
_XXH_P4 = 0x85EBCA77C2B2AE63
_XXH_P5 = 0x27D4EB2F165667C5
_U64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh64(data: bytes, seed: int = 42) -> int:
    """Standard XXH64 over a byte stream — bit-identical to Spark's
    ``xxhash64`` (seed 42) for string inputs; integral inputs go through
    :func:`_spark_xxhash64` which packs them the way Spark's specialized
    ``hashLong`` does. Public algorithm (Yann Collet's xxHash); pinned
    against ``F.xxhash64`` in tests/test_table.py so driver-side bucket
    pruning provably agrees with the write-side Catalyst expression."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XXH_P1 + _XXH_P2) & _U64
        v2 = (seed + _XXH_P2) & _U64
        v3 = seed & _U64
        v4 = (seed - _XXH_P1) & _U64
        while i + 32 <= n:
            for _lane in range(4):
                k = int.from_bytes(data[i : i + 8], "little")
                if _lane == 0:
                    v1 = (_rotl64((v1 + k * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
                elif _lane == 1:
                    v2 = (_rotl64((v2 + k * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
                elif _lane == 2:
                    v3 = (_rotl64((v3 + k * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
                else:
                    v4 = (_rotl64((v4 + k * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
                i += 8
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _U64
        for v in (v1, v2, v3, v4):
            k = (_rotl64((v * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
            h = ((h ^ k) * _XXH_P1 + _XXH_P4) & _U64
    else:
        h = (seed + _XXH_P5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (_rotl64((k * _XXH_P2) & _U64, 31) * _XXH_P1) & _U64
        h = (_rotl64(h ^ k, 27) * _XXH_P1 + _XXH_P4) & _U64
        i += 8
    if i + 4 <= n:
        k = int.from_bytes(data[i : i + 4], "little")
        h = (_rotl64(h ^ (k * _XXH_P1) & _U64, 23) * _XXH_P2 + _XXH_P3) & _U64
        i += 4
    while i < n:
        h = (_rotl64(h ^ (data[i] * _XXH_P5) & _U64, 11) * _XXH_P1) & _U64
        i += 1
    h ^= h >> 33
    h = (h * _XXH_P2) & _U64
    h ^= h >> 29
    h = (h * _XXH_P3) & _U64
    h ^= h >> 32
    return h


def _spark_xxhash64(val, dtype) -> int | None:
    """Driver-side twin of ``F.xxhash64(col)`` for the types bucket
    partitioning supports. Spark hashes integral/date/timestamp values as
    8-byte little-endian longs and strings as their UTF-8 bytes, seed 42.
    Returns a SIGNED 64-bit value (Spark longs) or None when the type
    isn't supported (caller must not prune then)."""
    import datetime
    import struct

    t = dtype.typeName()
    try:
        if t == "long":
            raw = struct.pack("<q", int(val))
        elif t in ("integer", "short", "byte"):
            # int-backed types hash through Spark's 4-byte XXH64 path
            raw = struct.pack("<i", int(val))
        elif t == "string":
            raw = str(val).encode("utf-8")
        elif t == "date":
            d = (
                val
                if isinstance(val, datetime.date)
                else datetime.date.fromisoformat(str(val))
            )
            raw = struct.pack("<i", (d - datetime.date(1970, 1, 1)).days)
        elif t in ("timestamp", "timestamp_ntz"):
            ts = (
                val
                if isinstance(val, datetime.datetime)
                else datetime.datetime.fromisoformat(str(val))
            )
            delta = ts.replace(tzinfo=None) - datetime.datetime(1970, 1, 1)
            micros = (
                delta.days * 86_400 + delta.seconds
            ) * 1_000_000 + delta.microseconds
            raw = struct.pack("<q", micros)
        else:
            return None
    except (struct.error, TypeError, ValueError):
        # unhashable predicate value (e.g. 2**31 against an int column —
        # a type-legal comparison that simply matches nothing): no bucket
        # can be computed, the caller must keep the file
        return None
    h = _xxh64(raw, 42)
    return h - (1 << 64) if h >= (1 << 63) else h


def _bloom_positions_py(h: int, nbits: int, k: int) -> list[int]:
    """Kirsch-Mitzenmacher double hashing over ONE xxhash64 value: the
    64-bit hash splits into a 32-bit base and a 32-bit (odd) step, probe
    i tests bit (base + i*step) mod nbits. The write side computes the
    identical positions vectorized in numpy; nbits is a power of two so
    the modulus is stable under any 2^64 wraparound."""
    h &= _U64
    lo = h & 0xFFFFFFFF
    hi = (h >> 32) | 1
    return [(lo + i * hi) % nbits for i in range(k)]


def _bloom_may_contain(bits: bytes, nbits: int, k: int, h: int) -> bool:
    for p in _bloom_positions_py(h, nbits, k):
        if not (bits[p >> 3] & (0x80 >> (p & 7))):  # np.packbits MSB-first
            return False
    return True


@dataclass(frozen=True)
class _SpecField:
    """One parsed partition-spec entry."""

    transform: str  # identity|bucket|truncate|year|month|day|hour
    source: str
    param: int | None
    pname: str  # hive path column name the derived value is written under


_TRANSFORM_SUFFIX = {
    "bucket": "bucket",
    "truncate": "trunc",
    "year": "year",
    "month": "month",
    "day": "day",
    "hour": "hour",
}


def _parse_spec(spec: list) -> list[_SpecField]:
    import re

    out = []
    for entry in spec or []:
        e = str(entry).strip()
        m = re.fullmatch(r"(bucket|truncate)\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)", e)
        if m:
            fn, param, src = m.group(1), int(m.group(2)), m.group(3)
            if param <= 0:
                raise ValueError(f"transform width must be positive: {entry!r}")
            out.append(_SpecField(fn, src, param, f"{src}_{_TRANSFORM_SUFFIX[fn]}"))
            continue
        m = re.fullmatch(r"(year|month|day|hour)\s*\(\s*(\w+)\s*\)", e)
        if m:
            fn, src = m.group(1), m.group(2)
            out.append(_SpecField(fn, src, None, f"{src}_{_TRANSFORM_SUFFIX[fn]}"))
            continue
        if not e.isidentifier():
            raise ValueError(f"unsupported partition spec entry: {entry!r}")
        out.append(_SpecField("identity", e, None, e))
    return out


def _spec_sources(spec: list) -> list[str]:
    return [sf.source for sf in _parse_spec(spec)]


def _transform_expr(sf: _SpecField, dtype):
    """The write-side Catalyst expression computing a spec field's derived
    partition value. NULL source -> NULL partition (hive null dir), like
    Iceberg. All JVM-side builtins — the derived column costs one projection
    in the distributed write, never a Python roundtrip."""
    c = F.col(sf.source)
    t = dtype.typeName()
    if sf.transform == "bucket":
        return F.when(c.isNull(), F.lit(None).cast("int")).otherwise(
            F.pmod(F.xxhash64(c), F.lit(sf.param)).cast("int")
        )
    if sf.transform == "truncate":
        if t == "string":
            return F.substring(c, 1, sf.param)
        return (c - F.pmod(c, F.lit(sf.param))).cast(dtype)
    if sf.transform == "year":
        return F.year(c)
    if sf.transform == "month":
        return F.date_format(c, "yyyy-MM")
    if sf.transform == "day":
        return F.date_format(c, "yyyy-MM-dd")
    if sf.transform == "hour":
        return F.date_format(c, "yyyy-MM-dd-HH")
    raise ValueError(sf.transform)


def _transform_supported(sf: _SpecField, dtype) -> bool:
    t = dtype.typeName()
    if sf.transform == "identity":
        return True
    if sf.transform == "bucket":
        return t in ("integer", "long", "short", "byte", "string", "date",
                     "timestamp", "timestamp_ntz")
    if sf.transform == "truncate":
        return t in ("integer", "long", "short", "byte", "string")
    if sf.transform == "year":
        return t in ("date", "timestamp", "timestamp_ntz")
    return t in ("date", "timestamp", "timestamp_ntz") or (
        sf.transform == "hour" and t in ("timestamp", "timestamp_ntz")
    )


def _transform_value(sf: _SpecField, val, dtype):
    """Driver-side transform of a PREDICATE value — must agree with
    :func:`_transform_expr` on every input or pruning would be wrong.
    Returns None when the value can't be transformed (caller keeps the
    file). Pinned against the write path in tests/test_table.py."""
    import datetime

    def _as_dt(v):
        if isinstance(v, datetime.datetime):
            return v
        if isinstance(v, datetime.date):
            return datetime.datetime(v.year, v.month, v.day)
        try:
            return datetime.datetime.fromisoformat(str(v))
        except ValueError:
            return None

    try:
        if sf.transform == "bucket":
            h = _spark_xxhash64(val, dtype)
            return None if h is None else h % sf.param  # python % == pmod
        if sf.transform == "truncate":
            if dtype.typeName() == "string":
                return str(val)[: sf.param]
            v = int(val)
            return v - (v % sf.param)
        d = _as_dt(val)
        if d is None:
            return None
        if sf.transform == "year":
            return d.year
        if sf.transform == "month":
            return f"{d.year:04d}-{d.month:02d}"
        if sf.transform == "day":
            return f"{d.year:04d}-{d.month:02d}-{d.day:02d}"
        if sf.transform == "hour":
            return f"{d.year:04d}-{d.month:02d}-{d.day:02d}-{d.hour:02d}"
    except (TypeError, ValueError):
        return None
    return None


_ORDER_PRESERVING = ("truncate", "year", "month", "day", "hour")


def _transform_may_match(sf: _SpecField, pv: str, op: str, val, dtype) -> bool:
    """Could a file whose derived partition value is ``pv`` (a decoded hive
    path string) contain a row satisfying ``source <op> val``? False only
    when provably impossible. Bucket prunes equality/IN only; the
    order-preserving transforms additionally prune ranges via
    T(row) <= T(val) for ``<``/``<=`` (and mirrored for ``>``/``>=``)."""
    vals = list(val) if op == "in" else [val]
    tvals = [_transform_value(sf, v, dtype) for v in vals]
    if any(tv is None for tv in tvals):
        return True
    if sf.transform == "bucket":
        if op in ("=", "in"):
            return pv in {str(tv) for tv in tvals}
        return True
    if sf.transform not in _ORDER_PRESERVING:
        return True
    # typed comparison: year + integer truncate compare as ints, the
    # zero-padded date strings and string truncate compare lexicographically
    numeric = sf.transform == "year" or (
        sf.transform == "truncate" and dtype.typeName() != "string"
    )
    try:
        p = int(pv) if numeric else pv
        ts = [int(tv) if numeric else str(tv) for tv in tvals]
    except (TypeError, ValueError):
        return True
    if op in ("=", "in"):
        return p in set(ts)
    t = ts[0]
    if op in ("<", "<="):
        return p <= t
    if op in (">", ">="):
        return p >= t
    return True


# ---------- per-file column statistics (manifest pruning) ----------

_MAX_STAT_STRING = 64  # parquet writers may truncate long string stats


def _encode_bound(v):
    """Footer statistic -> JSON-native bound, or None for types we don't
    track (binary, over-long strings — a missing bound just means the
    file is never skipped on that column)."""
    import datetime
    import decimal

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float)):
        return v
    if isinstance(v, str):
        return v if len(v) <= _MAX_STAT_STRING else None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return str(v)
    return None


def _decode_bound(dtype, v):
    """JSON bound -> comparable python value, typed through the snapshot
    schema (ISO strings back to datetime/date, decimal strings back to
    Decimal) so range comparison is value-order, not string-order."""
    import datetime
    import decimal

    t = dtype.typeName()
    if t in ("timestamp", "timestamp_ntz"):
        out = (
            v
            if isinstance(v, datetime.datetime)
            else datetime.datetime.fromisoformat(str(v))
        )
        # normalize to naive UTC: stored bounds carry +00:00 (Spark
        # session tz is UTC) while predicate literals are usually naive
        # — mixed-awareness compares raise TypeError, which the pruner
        # treats as "can't decide" and silently stops skipping files
        if out.tzinfo is not None:
            out = out.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return out
    if t == "date":
        if isinstance(v, datetime.datetime):
            return v.date()
        return v if isinstance(v, datetime.date) else datetime.date.fromisoformat(str(v))
    if t == "decimal":
        # a literal that is no number (None, text, NaN) raises ValueError:
        # the pruner then keeps every file, the server refuses the ticket
        try:
            out = decimal.Decimal(str(v))
        except decimal.InvalidOperation:
            out = None
        if out is None or out.is_nan():
            raise ValueError(f"not a decimal value: {v!r}")
        return out
    return v


_PRED_OPS = (
    "=", "==", "<", "<=", ">", ">=", "in", "is_null", "is_not_null",
    "!=", "<>", "not_in", "between",
)


def _normalize_predicates(where) -> list[tuple]:
    """``where`` is a list of ``(column, op, value)`` conjuncts (op in
    =, <, <=, >, >=, in, is_null, is_not_null — the null ops ignore
    their value slot). A single triple may be passed bare."""
    if where is None:
        return []
    if (
        isinstance(where, (tuple, list))
        and len(where) == 3
        and isinstance(where[0], str)
        and where[1] in _PRED_OPS
    ):
        where = [tuple(where)]
    preds = []
    for p in where:
        col, op, val = (p[0], p[1], p[2] if len(p) > 2 else None)
        if op not in _PRED_OPS:
            raise ValueError(f"unsupported predicate op: {op!r}")
        if op == "between":
            # sugar: rewrite to the two range conjuncts so every tier
            # (bounds, transforms, blooms-not-applicable) sees plain ops
            lo, hi = val
            preds.append((col, ">=", lo))
            preds.append((col, "<=", hi))
            continue
        op = {"==": "=", "<>": "!="}.get(op, op)
        preds.append((col, op, val))
    return preds


def _is_nan(v) -> bool:
    return isinstance(v, float) and v != v


def _bounds_may_match(lo, hi, op: str, val, *, float_type: bool = False) -> bool:
    """Conservative interval check: could a row inside [lo, hi] satisfy
    ``col <op> val``? False only when provably impossible.

    ``float_type`` marks float/double columns, whose recorded bounds
    EXCLUDE NaN rows (parquet footer stats and Iceberg metrics never
    incorporate NaN) while Spark SQL orders NaN GREATER than every value
    and NaN = NaN — so a hidden NaN row satisfies ``>``, ``>=``, ``!=``
    and ``not_in`` (non-NaN literals) no matter what the bounds say, and
    ``=``/``in`` when the literal itself is NaN. Those ops never prune a
    float column without a NaN count, mirroring Iceberg's
    InclusiveMetricsEvaluator when nan_value_counts are absent. ``<`` and
    ``<=`` stay prunable for non-NaN literals: NaN can never satisfy
    them. A NaN LITERAL inverts that: Spark evaluates ``col < NaN`` TRUE
    for every non-NaN row and ``col <= NaN`` TRUE for every row, while
    Python's ``lo < nan`` is False — so the generic interval test below
    would wrongly prune. Handled here unconditionally (not gated on
    ``float_type``) because the identity-partition caller passes
    ``float_type=_is_nan(pv)``, which is False for a finite pv."""
    if _is_nan(val) and op in ("<", "<="):
        if op == "<=":
            return True  # every value (NaN included) satisfies <= NaN
        if not _is_nan(lo):
            return True  # a non-NaN row exists in [lo, hi]: col < NaN
        # all-NaN identity partition: NaN < NaN is false -> prunable
        return False
    if float_type:
        if op in (">", ">=", "!=", "not_in"):
            return True
        if op == "=" and _is_nan(val):
            return True
        if op == "in" and any(_is_nan(x) for x in val):
            return True
    try:
        if op == "=":
            return lo <= val <= hi
        if op == "<":
            return lo < val
        if op == "<=":
            return lo <= val
        if op == ">":
            return hi > val
        if op == ">=":
            return hi >= val
        if op == "in":
            return any(lo <= x <= hi for x in val)
        if op == "!=":
            # only a single-valued file (lo == hi == val) provably fails
            return not (lo == hi == val)
        if op == "not_in":
            return not (lo == hi and lo in val)
    except TypeError:
        return True  # incomparable (mixed types) -> never skip
    return True


def _bounds_all_match(lo, hi, op: str, val, *, float_type: bool = False) -> bool:
    """Dual of :func:`_bounds_may_match`: does EVERY value inside
    ``[lo, hi]`` provably satisfy ``col <op> val``? False whenever
    uncertain — the caller falls back to scanning. Safe even when a
    writer widened the recorded bounds (truncated-string lower/upper):
    proving the property over a SUPERSET interval still proves it for
    the file's actual values.

    For float/double columns (``float_type``) a NaN row is invisible to
    the bounds but FAILS ``<``/``<=``/``=``/``in`` (NaN is greater than
    everything in Spark) and fails ``!=``/``not_in`` exactly when the
    literal set contains NaN (NaN = NaN in Spark) — those proofs refuse;
    ``>``/``>=`` against a non-NaN literal survive (a NaN row satisfies
    them too)."""
    if float_type:
        if op in ("<", "<=", "=", "in"):
            return False
        if op in ("!=", "not_in") and any(
            _is_nan(x) for x in (val if op == "not_in" else [val])
        ):
            return False
    try:
        if op == "=":
            return lo == hi == val
        if op == "<":
            return hi < val
        if op == "<=":
            return hi <= val
        if op == ">":
            return lo > val
        if op == ">=":
            return lo >= val
        if op == "in":
            return lo == hi and lo in val
        if op == "!=":
            return hi < val or val < lo
        if op == "not_in":
            return all(hi < x or x < lo for x in val)
    except TypeError:
        return False  # incomparable -> can't prove anything
    return False


def _bounds_keep(
    lo: np.ndarray, hi: np.ndarray, nan: np.ndarray, op: str, val,
    *, float_type: bool = False,
) -> np.ndarray:
    """:func:`_bounds_may_match` over object arrays of decoded bounds:
    which files could hold a row satisfying ``col <op> val``. ``nan``
    marks files with a NaN bound. The rules are the scalar function's;
    a comparison that raises ``TypeError`` keeps every file."""
    n = len(lo)
    keep = np.ones(n, dtype=bool)
    if _is_nan(val) and op in ("<", "<="):
        if op == "<=":
            return keep
        # col < NaN holds for every non-NaN row; an all-NaN file fails it
        return ~np.fromiter(map(_is_nan, lo), dtype=bool, count=n)
    if float_type:
        # a NaN row hides outside the bounds and satisfies these
        if op in (">", ">=", "!=", "not_in"):
            return keep
        if op == "=" and _is_nan(val):
            return keep
        if op == "in" and any(_is_nan(x) for x in val):
            return keep
    v = np.empty((), dtype=object)
    v[()] = val  # a 0-d cell: the literal compares whole, never broadcast
    # a NaN compares False, as in Python, without a floating-point warning
    quiet = nan.any() or _is_nan(val)
    try:
        with np.errstate(invalid="ignore") if quiet else contextlib.nullcontext():
            if op == "=":
                return np.less_equal(lo, v) & np.less_equal(v, hi)
            if op == "<":
                return np.less(lo, v)
            if op == "<=":
                return np.less_equal(lo, v)
            if op == ">":
                return np.greater(hi, v)
            if op == ">=":
                return np.greater_equal(hi, v)
            if op == "in":
                # any literal inside [lo, hi]: the smallest literal >= lo
                # must be <= hi. NaN literals match no bound and NaN bounds
                # no literal (they would also break the binary search)
                xs = sorted({x for x in val if not _is_nan(x)})
                lits = np.empty(len(xs), dtype=object)
                lits[:] = xs
                out = np.zeros(n, dtype=bool)
                ok = np.flatnonzero(~nan)
                at = np.searchsorted(lits, lo[ok], side="left")
                inside = at < len(xs)
                out[ok[inside]] = np.less_equal(lits[at[inside]], hi[ok[inside]])
                return out
            if op == "!=":
                # only a single-valued file (lo == hi == val) provably fails
                return ~(np.equal(lo, hi) & np.equal(hi, v))
            if op == "not_in":
                for i in np.flatnonzero(np.equal(lo, hi)):
                    keep[i] = lo[i] not in val
                return keep
    except TypeError:
        return np.ones(n, dtype=bool)  # incomparable (mixed types) -> keep
    return keep


class _PruneGroup(NamedTuple):
    """The files of one (commit dir spec, partition path) pair: the spec
    parsed once, and the hive values decoded from the path."""

    identity: frozenset  # identity-partitioned source columns
    transforms: dict  # source column -> [_SpecField] of its transforms
    pvals: dict  # hive partition column -> decoded value (None = null)


class _ColumnStats(NamedTuple):
    """One column's recorded statistics, one row per index position."""

    has: np.ndarray  # the file records bounds for the column
    nulls: np.ndarray  # null count, -1 when unrecorded
    valid: np.ndarray  # lo and hi recorded, and typed through the schema
    lo: np.ndarray  # decoded lower bounds (object)
    hi: np.ndarray  # decoded upper bounds (object)
    nan: np.ndarray  # lo or hi is a float NaN


class _Located(NamedTuple):
    """Where the files of one pruning call sit in a :class:`_PruneIndex`."""

    pos: np.ndarray  # index position; files outside it get the "no stats" row
    gid: np.ndarray  # into ``groups``
    groups: list
    sources: frozenset  # columns some group partitions on


class _Groups:
    """The partition groups of the files placed so far. A group is a
    (dir spec, partition path) pair — what the transform and identity-
    partition tiers decide on — so its spec is parsed and its path
    decoded once however many files share it. When no commit dir was
    written under a partition spec, every file is in the one flat group
    and placing one costs nothing."""

    def __init__(self, snap: Snapshot):
        self._layouts = snap.layouts
        self._spec = snap.partition_spec
        self.flat = not self._spec and not any(r.spec for r in self._layouts.values())
        self._dir_specs: dict = {}  # commit dir -> spec tuple
        self._ids: dict = {}  # (spec tuple, path segments) -> group id
        self._parsed: dict = {}  # spec tuple -> [_SpecField]
        self.groups: list = [_PruneGroup(frozenset(), {}, {})] if self.flat else []

    def fork(self) -> _Groups:
        """A copy that places further files without changing this one."""
        out = copy.copy(self)
        out._dir_specs, out._ids = dict(self._dir_specs), dict(self._ids)
        out.groups = list(self.groups)
        return out

    def place(self, rel: str) -> int:
        """The group id of ``rel``, registering a new group."""
        if self.flat:
            return 0
        d = _commit_dir_of(rel)
        spec = self._dir_specs.get(d)
        if spec is None:
            # spec evolution: a file prunes under the spec its COMMIT DIR
            # was written with, not the snapshot's current one
            spec = self._dir_specs[d] = tuple(_layout_of(self._layouts, d, self._spec).spec)
        key = (spec, tuple(rel.replace(os.sep, "/").split("/")[2:-1]) if spec else ())
        gi = self._ids.get(key)
        if gi is None:
            fields = self._parsed.get(spec)
            if fields is None:
                fields = self._parsed[spec] = _parse_spec(list(spec))
            transforms: dict = {}
            for sf in fields:
                if sf.transform != "identity":
                    transforms.setdefault(sf.source, []).append(sf)
            gi = self._ids[key] = len(self.groups)
            self.groups.append(_PruneGroup(
                frozenset(sf.source for sf in fields if sf.transform == "identity"),
                transforms,
                _hive_partition_values(rel) if fields else {},
            ))
        return gi

    def sources(self) -> frozenset:
        """The columns some group partitions on, by identity or transform."""
        out: set = set()
        for g in self.groups:
            out |= g.identity | g.transforms.keys()
        return frozenset(out)


class _PruneIndex:
    """Columnar view of one snapshot's file metadata, which scan
    planning (:meth:`IceTable._prune_files`) evaluates each conjunct
    over in one pass instead of once per file. Per file it holds the row
    count and the partition group (:class:`_Groups`); built on first
    use, the commit dir ids (for the bloom tier) and, per column, the
    decoded bounds and null count (:class:`_ColumnStats`). Position
    ``len(files)`` is a "no stats" row that files outside the
    snapshot's stats (a change range's files) read. Read-only once
    built, so concurrent readers share it: a lazy part is built whole,
    then published by one assignment."""

    def __init__(self, snap: Snapshot):
        schema = StructType.fromJson(json.loads(snap.schema_json))
        self.types = {f.name: f.dataType for f in schema.fields}
        self._field_ids = snap.field_ids
        self._stats = snap.file_stats
        self._manifest = snap.manifest
        files = list(snap.manifest)
        listed = set(files)
        files += [f for f in snap.file_stats if f not in listed]
        self.files = files
        self.pos = {f: i for i, f in enumerate(files)}
        rows = [(snap.file_stats.get(f) or {}).get("__rows__") for f in files]
        self.rows = np.array(
            [-1 if r is None else int(r) for r in rows] + [-1], dtype=np.int64
        )
        self._groups = _Groups(snap)
        self._gid = np.array(
            [self._groups.place(f) for f in files] + [-1], dtype=np.intp
        )
        self._sources = self._groups.sources()
        self._dirs: tuple | None = None
        self._columns: dict = {}  # column name -> _ColumnStats

    def locate(self, files: list[str]) -> _Located:
        """Index positions and partition groups of one call's ``files``.
        A file outside the index reads the "no stats" row; its group is
        placed in a fork, so the shared index never changes."""
        if files is self._manifest:
            pos = np.arange(len(files), dtype=np.intp)
        else:
            get = self.pos.get
            pos = np.fromiter((get(f, -1) for f in files), dtype=np.intp, count=len(files))
        outside = np.flatnonzero(pos < 0)
        pos[outside] = len(self.files)
        gid = self._gid[pos]
        if not len(outside):
            return _Located(pos, gid, self._groups.groups, self._sources)
        groups = self._groups.fork()
        for i in outside:
            gid[i] = groups.place(files[i])
        return _Located(pos, gid, groups.groups, groups.sources())

    def dirs(self) -> tuple[np.ndarray, list]:
        """(commit dir id per position, the dirs); the "no stats" row
        reads -1."""
        got = self._dirs
        if got is None:
            ids: dict = {}
            at = [ids.setdefault(_commit_dir_of(f), len(ids)) for f in self.files]
            got = self._dirs = (np.array(at + [-1], dtype=np.intp), list(ids))
        return got

    def column(self, col: str) -> _ColumnStats:
        """``col``'s statistics (its type must be in ``types``), decoded
        through the snapshot's schema on first use. A bound that does not
        decode reads as no bound."""
        got = self._columns.get(col)
        if got is not None:
            return got
        dt = self.types[col]
        tname = dt.typeName()
        decode = tname in ("timestamp", "timestamp_ntz", "date", "decimal")
        float_type = tname in ("float", "double")
        fid = str(self._field_ids.get(col, ""))
        n = len(self.files) + 1
        has = np.zeros(n, dtype=bool)
        valid = np.zeros(n, dtype=bool)
        nan = np.zeros(n, dtype=bool)
        nulls = np.full(n, -1, dtype=np.int64)
        lo = np.empty(n, dtype=object)
        hi = np.empty(n, dtype=object)
        for i, rel in enumerate(self.files):
            b = (self._stats.get(rel) or {}).get(fid)
            if not b:
                continue
            has[i] = True
            if len(b) > 2 and b[2] is not None:
                nulls[i] = b[2]
            lb, hb = b[0], b[1]
            if lb is None or hb is None:
                continue
            if decode:
                try:
                    lb, hb = _decode_bound(dt, lb), _decode_bound(dt, hb)
                except (ValueError, TypeError, ArithmeticError):
                    continue
            lo[i], hi[i], valid[i] = lb, hb, True
            nan[i] = float_type and (_is_nan(lb) or _is_nan(hb))
        got = self._columns[col] = _ColumnStats(has, nulls, valid, lo, hi, nan)
        return got


def _prune_index(snap: Snapshot) -> _PruneIndex:
    """``snap``'s scan-planning index, built on first use. Two threads
    racing here build two equal indexes and one is kept: no lock."""
    idx = snap.prune_index
    if idx is None:
        idx = snap.prune_index = _PruneIndex(snap)
    return idx


def _partition_verdict(g: _PruneGroup, col: str, op: str, val, dt) -> int:
    """What the path tiers decide for one conjunct over one partition
    group: ``_DROP_TRANSFORM`` or ``_DROP_PARTITION`` (no file of the
    group can match), ``_PARTITION_KEEP`` (an identity-partition column:
    the path decides and the bloom and bounds tiers do not run) or
    ``_NEXT_TIER``."""
    for sf in g.transforms.get(col, ()):
        # hidden partitioning: a predicate on the SOURCE column prunes
        # via the derived path value. Every supported transform maps
        # NULL -> NULL, so the null partition dir is exactly the null
        # source rows.
        if sf.pname not in g.pvals:
            continue
        pv = g.pvals[sf.pname]
        if op == "is_null":
            drop = pv is not None
        elif op == "is_not_null":
            drop = pv is None
        elif pv is None:
            drop = True  # null partition: no comparison can match
        else:
            drop = dt is not None and not _transform_may_match(sf, pv, op, val, dt)
        if drop:
            return _DROP_TRANSFORM
    if col not in g.identity:
        return _NEXT_TIER
    # partition values are strings in the path; only equality-shaped and
    # null ops prune here (Catalyst's partition pruning handles ranges
    # once columns materialize)
    if col not in g.pvals:
        return _PARTITION_KEEP
    pv = g.pvals[col]
    if op == "is_null":
        drop = pv is not None
    elif op == "is_not_null":
        drop = pv is None
    elif pv is None:
        drop = True  # null partition matches no comparison
    elif op == "=":
        hv = _hive_value_str(val)
        drop = hv is not None and pv != hv
    elif op == "in":
        hvs = {_hive_value_str(x) for x in val}
        drop = None not in hvs and pv not in hvs
    elif op == "!=":
        # identity partition: every row carries pv exactly
        hv = _hive_value_str(val)
        drop = hv is not None and pv == hv
    elif op == "not_in":
        drop = pv in {_hive_value_str(x) for x in val}
    else:
        drop = False
    return _DROP_PARTITION if drop else _PARTITION_KEEP


_NEXT_TIER, _DROP_TRANSFORM, _DROP_PARTITION, _PARTITION_KEEP = range(4)


def _predicates_to_column(preds: list[tuple]):
    """The same conjunction as a Catalyst filter — pruning is an
    optimization, the residual filter is what makes scan(where=) exact."""
    out = None
    for col, op, val in preds:
        c = F.col(col)
        expr = {
            "=": lambda: c == F.lit(val),
            "<": lambda: c < F.lit(val),
            "<=": lambda: c <= F.lit(val),
            ">": lambda: c > F.lit(val),
            ">=": lambda: c >= F.lit(val),
            "in": lambda: c.isin(list(val)),
            "!=": lambda: c != F.lit(val),
            "not_in": lambda: ~c.isin(list(val)),
            "is_null": lambda: c.isNull(),
            "is_not_null": lambda: c.isNotNull(),
        }[op]()
        out = expr if out is None else (out & expr)
    return out


def _reconcile_ids(
    field_ids: dict, next_id: int, new_names: list[str]
) -> tuple[dict, int]:
    """Field ids for an overwrite/replace-style commit whose schema may
    differ from the table's: names that already exist keep their id, new
    names get fresh ids. (A name dropped earlier is no longer in
    ``field_ids``, so re-introducing it allocates a NEW id — old bytes
    written under the retired id stay invisible.)"""
    out = {}
    for n in new_names:
        if n in field_ids:
            out[n] = field_ids[n]
        else:
            out[n] = next_id
            next_id += 1
    return out, next_id


class IceTable:
    """Handle to one snapshot-versioned table on disk."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.metadata_dir = os.path.join(self.path, "metadata")
        self.data_dir = os.path.join(self.path, "data")
        self.branch_name: str | None = None  # set on branch() handles
        # per-commit-dir bloom sidecars, parsed+decoded once per handle
        self._bloom_cache: dict = {}

    # ---------- metadata plumbing ----------

    def exists(self) -> bool:
        return os.path.isfile(os.path.join(self.metadata_dir, "current"))

    def _read_current_seq(self) -> int:
        try:
            with open(os.path.join(self.metadata_dir, "current")) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            raise NoSuchTableError(self.path) from None

    def _snapshot_path(self, seq: int) -> str:
        return os.path.join(self.metadata_dir, f"snap-{seq}.json")

    def _load_snapshot_by_seq(self, seq: int) -> Snapshot:
        """Snapshot ``seq``, parsed once per process while it stays in
        the ``_SNAPSHOT_CACHE_SIZE``-entry LRU. The key is the opened
        file's identity (path, inode, mtime, size), not the sequence
        number: a failed fast-forward deletes the files it claimed and a
        later commit reuses their numbers. Cached snapshots are shared;
        callers copy before they change anything."""
        path = self._snapshot_path(seq)
        with open(path) as f:
            st = os.fstat(f.fileno())
            key = (path, st.st_ino, st.st_mtime_ns, st.st_size)
            with _snapshot_cache_lock:
                snap = _snapshot_cache.get(key)
                if snap is not None:
                    _snapshot_cache.move_to_end(key)
                    return snap
            snap = _load_snapshot_payload(f.read(), self.metadata_dir)
        with _snapshot_cache_lock:
            _snapshot_cache[key] = snap
            if len(_snapshot_cache) > _SNAPSHOT_CACHE_SIZE:
                _snapshot_cache.popitem(last=False)
        return snap

    def _segments_dir(self) -> str:
        return os.path.join(self.metadata_dir, "segments")

    def _write_segment(self, files: list[str], snap: Snapshot) -> str:
        """Write one immutable manifest segment of ``files`` with their
        stats and the layout record of each commit dir they sit in, all
        taken from ``snap``; returns its ref."""
        os.makedirs(self._segments_dir(), exist_ok=True)
        ref = f"seg-{uuid.uuid4().hex[:12]}.json"
        stats, lays = snap.file_stats, snap.layouts
        dirs = {_commit_dir_of(p) for p in files}
        with open(os.path.join(self._segments_dir(), ref), "w") as f:
            json.dump(
                {
                    "files": list(files),
                    "file_stats": {p: stats[p] for p in files if p in stats},
                    "layouts": {
                        d: lays[d]._asdict() for d in sorted(dirs) if d in lays
                    },
                },
                f,
            )
        return ref

    def _slim_snapshot_text(
        self, snap: Snapshot, parent: Snapshot | None, *, fresh: bool = False
    ) -> str:
        """Serialize ``snap`` in slim (format 2): added files land in a
        fresh segment with the layout records of their dirs, the parent's
        segments are referenced (a parent whose segments cannot be
        shared, :func:`_shareable_segments`, is reseeded into one segment
        first), and paths no longer in the manifest become tombstones.
        When tombstones or the segment list outgrow the manifest,
        everything consolidates into one fresh segment — the self-tuning
        equivalent of Iceberg's rewrite_manifests, amortized O(1) extra
        writes per commit."""
        if parent is None or fresh:
            # a wholesale replace (create/overwrite) IS the new state:
            # start a fresh segment chain instead of tombstoning the
            # whole parent manifest and dragging its segments along
            psegs: list[str] = []
            ptomb: list[str] = []
            base_union: set[str] = set()
        else:
            psegs = _shareable_segments(parent)
            ptomb = getattr(parent, "_tombstones", []) or []
            if psegs is None:
                # seed the parent's state as one segment
                psegs = (
                    [self._write_segment(parent.manifest, parent)]
                    if parent.manifest
                    else []
                )
                ptomb = []
            base_union = set(parent.manifest) | set(ptomb)
        segs = list(psegs)
        if snap.added_files:
            segs.append(self._write_segment(list(snap.added_files), snap))
            base_union |= set(snap.added_files)
        tomb = sorted(base_union - set(snap.manifest))
        if (
            not set(snap.manifest) <= base_union  # e.g. rollback past a
            # consolidation: the restored files aren't in any referenced
            # segment — only a fresh consolidated segment covers them
            or len(tomb) > max(64, len(snap.manifest))
            or len(segs) > 256
        ):
            segs = [self._write_segment(snap.manifest, snap)] if snap.manifest else []
            tomb = []
        snap._segments = segs  # type: ignore[attr-defined]
        snap._tombstones = tomb  # type: ignore[attr-defined]
        return _slim_json(snap, segs, tomb)

    def _copied_snapshot_text(self, snap: Snapshot, src_metadata_dir: str) -> str:
        """Slim text of ``snap``, read from the log at ``src_metadata_dir``,
        for this handle's log (a branch fork, or a fast-forward onto
        main). Segments are immutable and uniquely named, so the ones
        ``snap`` references are hard-linked into this log's segments dir
        (copied where a link is refused) and both logs share them; a
        snapshot whose segments cannot be shared is reseeded into one
        segment (:func:`_shareable_segments`). Each linked segment's
        mtime is refreshed: until the snapshot that references it is
        visible, only the GC age guard protects it."""
        segs = _shareable_segments(snap)
        if segs is None:
            segs = [self._write_segment(snap.manifest, snap)] if snap.manifest else []
            return _slim_json(snap, segs, [])
        os.makedirs(self._segments_dir(), exist_ok=True)
        for ref in segs:
            src = os.path.join(src_metadata_dir, "segments", ref)
            dst = os.path.join(self._segments_dir(), ref)
            try:
                os.link(src, dst)
            except FileExistsError:
                pass
            except OSError:
                shutil.copyfile(src, dst)
            os.utime(dst)
        return _slim_json(snap, segs, snap._tombstones)

    def current_snapshot(self) -> Snapshot | None:
        if not self.exists():
            return None
        return self._load_snapshot_by_seq(self._read_current_seq())

    def _walk_history(self, upto: int | None = None) -> Iterator[Snapshot]:
        """The table's snapshots newest first, from the current one (or
        from sequence ``upto``, if lower) back to the oldest. Sequence
        numbers come from one listing of the metadata dir, so the walk
        steps over the gaps ``expire_snapshots`` leaves (tagged snapshots
        survive, their neighbours may not); a file expired after the
        listing is stepped over too. Snapshots load lazily: a caller that
        stops at its answer parses only the snapshots it walked."""
        if not os.path.isdir(self.metadata_dir):
            return
        top = self._read_current_seq() if self.exists() else -1
        if upto is not None:
            top = min(top, upto)
        seqs = [
            int(f[len("snap-") : -len(".json")])
            for f in os.listdir(self.metadata_dir)
            if f.startswith("snap-") and f.endswith(".json")
        ]
        for seq in sorted((s for s in seqs if s <= top), reverse=True):
            try:
                snap = self._load_snapshot_by_seq(seq)
            except FileNotFoundError:
                continue
            yield snap

    def snapshots(self) -> list[Snapshot]:
        """All snapshots in commit order (like Iceberg's .snapshots table)."""
        return list(self._walk_history())[::-1]

    def snapshot_by_id(self, snapshot_id: int) -> Snapshot:
        # the current snapshot is the common pin (a Flight slice ticket,
        # a read just planned): one snapshot load instead of the history
        cur = self.current_snapshot()
        if cur is not None and cur.snapshot_id == snapshot_id:
            return cur
        for snap in self._walk_history():
            if snap.snapshot_id == snapshot_id:
                return snap
        raise ValueError(f"no snapshot {snapshot_id} in table history")

    def _resolve_snapshot(
        self,
        snapshot_id: int | None = None,
        *,
        tag: str | None = None,
        as_of_ms: int | None = None,
    ) -> Snapshot:
        """The snapshot a read pins: by id, by named tag (`VERSION AS OF
        'tag'`), or the newest one committed at or before ``as_of_ms``
        (`TIMESTAMP AS OF`). At most one selector; none means the current
        snapshot, one ``current_snapshot()`` read and no history walk."""
        if sum(x is not None for x in (snapshot_id, tag, as_of_ms)) > 1:
            raise ValueError("pass at most one of snapshot_id, tag, as_of_ms")
        if tag is not None:
            refs = self.tags()
            if tag not in refs:
                raise ValueError(f"no such tag: {tag}")
            snapshot_id = refs[tag]
        if as_of_ms is not None:
            snap = next(
                (s for s in self._walk_history() if s.timestamp_ms <= as_of_ms),
                None,
            )
            if snap is None:
                raise ValueError(
                    f"no snapshot at or before timestamp {as_of_ms}"
                )
            return snap
        if snapshot_id is not None:
            return self.snapshot_by_id(snapshot_id)
        snap = self.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.path)
        return snap

    def schema(self) -> StructType:
        snap = self.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.path)
        return StructType.fromJson(json.loads(snap.schema_json))

    def partition_spec(self) -> list[str]:
        snap = self.current_snapshot()
        return list(snap.partition_spec) if snap else []

    # ---------- commit protocol ----------

    def _publish(
        self,
        operation: str,
        added_files: list[str],
        df_schema_json: str,
        *,
        replace_manifest: bool = False,
        max_retries: int = 20,
        summary: dict | None = None,
        evolve=None,
        partition_spec: list | None = None,
        add_delete_files: list | None = None,
        add_eq_delete_files: list | None = None,
        set_delete_files: list | None = None,
        require_parent_snapshot_id: int | None = None,
        inherit_schema: bool = False,
        full_manifest: list[str] | None = None,
        properties: dict | None = None,
        properties_update: dict | None = None,
        fresh_segments: bool = False,
        defaults_evolve=None,
        schema_evolve=None,
    ) -> Snapshot:
        """Optimistically commit a new snapshot referencing already-written
        data files. Pure metadata — safe to retry without rewriting data.

        ``evolve`` is an optional ``(field_ids, next_field_id) ->
        (field_ids, next_field_id)`` transform applied INSIDE the retry
        loop (so it always sees the winning parent's ids) — the hook
        add/drop/rename/overwrite use to change the id mapping.

        ``schema_evolve`` is the SCHEMA-side twin: an optional
        ``(parent_schema_json) -> new_schema_json`` transform, also
        applied inside the retry loop, that add/drop/rename/widen use
        instead of a pre-read ``df_schema_json``. Without it, an alter
        losing the commit race republishes the schema it READ — silently
        reverting a concurrent widen's type, or (worse) publishing a
        schema whose column names no longer match the winning parent's
        field_ids, which makes the mismatched column resolve to NO field
        id and read as typed NULL (a widen racing a rename does exactly
        this). The transform re-validates against the winning parent and
        raises ValueError when the race made the operation meaningless
        (column renamed away, already widened) — the same surfaced-race
        contract rename/widen already document.

        Conflict validation (Iceberg parity — a retry must not silently
        undo a concurrent commit):

        - ``require_parent_snapshot_id``: commits whose CONTENT was
          derived by reading a snapshot (compact, copy-on-write
          delete/merge) pass the snapshot id they read; if the winning
          parent has advanced past it, the written files are stale (they
          would resurrect concurrently-deleted rows or drop concurrent
          appends) and the commit raises :class:`CommitConflict` instead
          of retrying — the caller re-reads and re-runs.
        - ``add_delete_files``: the positional delete files' referenced
          data-file paths must be a subset of the winning manifest; a
          concurrent compact/overwrite that replaced those files makes
          the (file, pos) coordinates meaningless (the anti-join would
          never match — a silently lost delete), so the commit raises
          :class:`CommitConflict`.

        ``inherit_schema``: append-shaped commits (append, merge-on-read
        delete/merge) don't change the table schema — the published
        snapshot takes the WINNING parent's schema, not the possibly
        stale schema the caller read before staging (a concurrent rename
        must not be reverted by an append's publish).

        ``full_manifest``: with ``replace_manifest``, an explicit full
        file set that differs from ``added_files`` — incremental (bin-
        pack) compaction keeps untouched files in the manifest while
        ``added_files`` records only the rewritten ones."""
        os.makedirs(self.metadata_dir, exist_ok=True)
        # Delete-file references and staged write-time mappings are
        # immutable once written — resolve them once, outside the loop.
        new_delete_refs: set[str] = (
            self._delete_file_refs(add_delete_files) if add_delete_files else set()
        )
        added_dirs = {_commit_dir_of(f) for f in added_files or []}
        sidecars = {d: self._load_write_mapping(d) for d in added_dirs}
        stats_sidecars = {d: self._load_file_stats_sidecar(d) for d in added_dirs}
        spec_sidecars = {d: self._load_write_spec(d) for d in added_dirs}
        for _ in range(max_retries):
            parent = self.current_snapshot()
            if require_parent_snapshot_id is not None and (
                parent is None or parent.snapshot_id != require_parent_snapshot_id
            ):
                raise CommitConflict(
                    f"table advanced past snapshot {require_parent_snapshot_id} "
                    f"since this operation read its data; re-read and retry: "
                    f"{self.path}"
                )
            seq = (parent.sequence + 1) if parent else 0
            if replace_manifest and full_manifest is not None:
                manifest = list(full_manifest)
            elif replace_manifest or parent is None:
                manifest = list(added_files)
            else:
                manifest = parent.manifest + list(added_files)
            if inherit_schema and parent is not None:
                df_schema_json = parent.schema_json
            if schema_evolve is not None and parent is not None:
                df_schema_json = schema_evolve(parent.schema_json)
            if parent is None:
                names = _schema_names(df_schema_json)
                field_ids = {n: i + 1 for i, n in enumerate(names)}
                next_id = len(names) + 1
                spec = list(partition_spec or [])
            else:
                field_ids = dict(parent.field_ids)
                next_id = parent.next_field_id
                spec = (
                    list(partition_spec)
                    if partition_spec is not None
                    else list(parent.partition_spec)
                )
            # delete-file rules: a replace-manifest commit (overwrite /
            # compact / create) starts from a clean slate — its file set
            # has the deletes materialized; everything else inherits the
            # parent's delete files. ``add_delete_files`` APPENDS inside
            # the retry loop (relative to the WINNING parent), so two
            # racing merge-on-read deletes both keep their files — an
            # absolute list here would lose the race loser's deletes.
            if replace_manifest or parent is None:
                dels = []
                eq_dels = []
            else:
                dels = list(parent.delete_files)
                eq_dels = [list(e) for e in parent.eq_delete_files]
            if set_delete_files is not None:
                # wholesale replacement of the pending positional delete
                # set (rewrite_position_deletes). Only sound when the
                # parent is pinned — a racing MOR delete's file would be
                # silently dropped otherwise — so callers MUST pass
                # require_parent_snapshot_id (checked above each retry).
                assert require_parent_snapshot_id is not None
                dels = list(set_delete_files)
            if add_eq_delete_files:
                # the committing snapshot's sequence stamps the
                # strictly-older rule: these keys delete only from files
                # committed before THIS commit
                eq_dels += [
                    [path, list(fids), seq] for path, fids in add_eq_delete_files
                ]
            if add_delete_files:
                dels += [f for f in add_delete_files if f not in dels]
                stale = new_delete_refs - set(manifest)
                if stale:
                    raise CommitConflict(
                        "positional delete files reference data files no "
                        f"longer in the manifest (concurrently replaced): "
                        f"{sorted(stale)[:3]}..."
                    )
            if evolve is not None:
                field_ids, next_id = evolve(field_ids, next_id)
            # One layout record per live commit dir: inherited dirs keep
            # the record of the commit that added them; each dir this
            # commit adds gets the physical name each field id was written
            # under, this commit's sequence (the strictly-older rule of
            # equality deletes) and the spec its files were written under.
            # The staged sidecar mapping (written WITH the files, under the
            # stage-time ids/names) wins: it is the only record that
            # survives a schema change racing between stage and publish.
            # Without one, the mapping is computed from the publish-time
            # schema — and a written name the winning field_ids no longer
            # knows means that race happened, so the commit conflicts
            # instead of silently stamping a mapping that would read those
            # columns back as NULL. A sidecar-less dir's spec is the one
            # this snapshot publishes (pre-evolution behavior).
            live_dirs = {_commit_dir_of(f) for f in manifest}
            layouts = {
                d: r
                for d, r in (parent.layouts.items() if parent else ())
                if d in live_dirs
            }
            new_dirs = added_dirs - set(layouts)
            if new_dirs:
                names = _schema_names(df_schema_json)
                unmapped = [n for n in names if n not in field_ids]
                default_mapping = {
                    str(field_ids[n]): n for n in names if n in field_ids
                }
                for d in new_dirs:
                    side = sidecars.get(d)
                    if side is None and unmapped:
                        raise CommitConflict(
                            f"schema changed between write and publish "
                            f"(columns {unmapped} are not in the current "
                            f"schema) and no write-time mapping was staged"
                        )
                    wspec = spec_sidecars.get(d)
                    layouts[d] = DirLayout(
                        side or default_mapping,
                        seq,
                        list(spec if wspec is None else wspec),
                    )
            # Column bounds: inherit the parent's per-file stats, add the
            # new files' (sidecar physical names resolved to field ids
            # through the dir's mapping), prune to the live manifest.
            fstats = dict(parent.file_stats) if parent else {}
            for f in added_files or []:
                d = _commit_dir_of(f)
                per = stats_sidecars.get(d, {}).get(f)
                if not per:
                    continue
                mapping = _layout_of(layouts, d, spec).mapping or {}
                inv = {phys: fid for fid, phys in mapping.items()}
                conv = {
                    inv[phys]: bounds
                    for phys, bounds in per.items()
                    if phys in inv
                }
                if conv:
                    if "__rows__" in per:
                        conv["__rows__"] = per["__rows__"]
                    fstats[f] = conv
            live_files = set(manifest)
            fstats = {f: s for f, s in fstats.items() if f in live_files}
            # Iceberg v3 ROW LINEAGE: every added data file gets a block
            # of row ids allocated from the winning parent's counter
            # (first_row_id rides the file's stats entry; _row_id =
            # first_row_id + position at read). Allocation is in-loop so
            # racing commits get disjoint blocks; ids are never reused —
            # a replaced file's block simply retires with it. Files whose
            # row count is unknowable keep NULL lineage (conservative).
            import pyarrow.parquet as _pq

            next_row = (
                parent.next_row_id
                if parent is not None and parent.next_row_id is not None
                else 0
            )
            for f in sorted(added_files or []):
                per = dict(fstats.get(f) or {})
                n = per.get("__rows__")
                if n is None:
                    try:
                        n = _pq.read_metadata(
                            os.path.join(self.path, f)
                        ).num_rows
                    except OSError:
                        continue
                per["__first_row_id__"] = int(next_row)
                per["__rows__"] = int(n)
                fstats[f] = per
                next_row += int(n)
            # table properties inherit commit-over-commit unless the
            # commit explicitly sets them (create / set_properties).
            # ``properties_update`` MERGES into the WINNING parent's
            # properties inside the retry loop (None value = delete) —
            # unlike the absolute ``properties`` dict, a concurrent
            # property change is never reverted by this commit's retry.
            props = (
                dict(properties)
                if properties is not None
                else (dict(parent.properties) if parent else {})
            )
            if properties_update is not None:
                for k, v in properties_update.items():
                    if v is None:
                        props.pop(k, None)
                    else:
                        props[k] = str(v)
            # column defaults inherit; ``defaults_evolve`` (add_column)
            # runs INSIDE the retry loop so it attaches to the id the
            # WINNING evolve assigned; dropped fids prune out
            dfl = dict(parent.field_defaults) if parent else {}
            if defaults_evolve is not None:
                dfl = defaults_evolve(field_ids, dfl)
            live_fids = {str(v) for v in field_ids.values()}
            dfl = {k: v for k, v in dfl.items() if k in live_fids}
            # Iceberg snapshot-summary metrics: file/record deltas and
            # totals stamped on every commit (metadata already in hand —
            # the lineage loop guarantees added files carry __rows__).
            # Totals are omitted rather than guessed when any legacy
            # file's count is unknown; caller-provided keys win.
            summ = dict(summary or {})
            summ.setdefault("added-data-files", str(len(added_files or [])))
            arows = [
                (fstats.get(f) or {}).get("__rows__")
                for f in added_files or []
            ]
            if all(v is not None for v in arows):
                summ.setdefault("added-records", str(sum(map(int, arows))))
            summ.setdefault("total-data-files", str(len(manifest)))
            trows = [(fstats.get(f) or {}).get("__rows__") for f in manifest]
            if all(v is not None for v in trows):
                summ.setdefault("total-records", str(sum(map(int, trows))))
            snap = Snapshot(
                snapshot_id=_new_snapshot_id(),
                sequence=seq,
                parent_id=parent.snapshot_id if parent else None,
                timestamp_ms=int(time.time() * 1000),
                operation=operation,
                added_files=list(added_files),
                manifest=manifest,
                schema_json=df_schema_json,
                summary=summ,
                field_ids=field_ids,
                next_field_id=next_id,
                partition_spec=spec,
                delete_files=dels,
                eq_delete_files=eq_dels,
                layouts=layouts,
                file_stats=fstats,
                properties=props,
                field_defaults=dfl,
                next_row_id=int(next_row),
            )
            # slim write: the commit's metadata IO is O(added files),
            # not O(table files) — a losing attempt's segment file is an
            # orphan the expire-time segment GC reaps (age-guarded); the
            # snapshot-path CAS below stays the only commit point
            payload = self._slim_snapshot_text(
                snap, parent,
                fresh=(replace_manifest and full_manifest is None)
                or fresh_segments,
            )
            try:
                with open(self._snapshot_path(seq), "x") as f:
                    f.write(payload)
            except FileExistsError:
                continue  # lost the race; recompute against new current
            tmp = os.path.join(self.metadata_dir, f".current.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(str(seq))
            os.replace(tmp, os.path.join(self.metadata_dir, "current"))
            return snap
        raise CommitConflict(f"gave up after {max_retries} retries: {self.path}")

    def _delete_file_refs(self, delete_files: list[str]) -> set[str]:
        """Distinct data-file paths referenced by positional delete files
        (driver-side pyarrow read of the one string column — delete files
        are O(deleted rows), and the distinct path set is O(#files))."""
        import pyarrow.parquet as _pq

        refs: set[str] = set()
        for f in delete_files:
            t = _pq.read_table(
                os.path.join(self.path, f), columns=["file_path"]
            )
            refs.update(t.column("file_path").to_pylist())
        return refs

    _WRITE_MAPPING = "_write_mapping.json"
    _FILE_STATS = "_file_stats.json"
    _WRITE_SPEC = "_write_spec.json"
    _BLOOM = "_bloom.json"
    _NDV = "_ndv.json"
    # types Spark's hll_sketch_agg accepts (Datasketches HLL)
    _NDV_TYPES = ("long", "integer", "string")
    _BLOOM_K = 7  # double-hashed probes per key (~1% FP at 10 bits/key)
    # types whose driver-side literal hash provably equals F.xxhash64.
    # Session-tz TIMESTAMP is deliberately absent: Catalyst resolves a
    # naive literal in the session timezone before hashing UTC micros,
    # while the driver-side twin has no session context — a non-UTC
    # session would make the bloom test the wrong key and MIS-PRUNE.
    # date / timestamp_ntz are timezone-free and stay.
    _BLOOM_TYPES = (
        "long", "integer", "short", "byte", "string", "date",
        "timestamp_ntz",
    )

    def _load_write_spec(self, commit_dir: str) -> list | None:
        """The partition spec a commit dir's files were written under
        (see :meth:`_write_data_files`), or None for pre-sidecar dirs
        (those read under the snapshot's spec — the old behavior)."""
        try:
            with open(
                os.path.join(self.data_dir, commit_dir, self._WRITE_SPEC)
            ) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _load_write_mapping(self, commit_dir: str) -> dict | None:
        """The {field_id: physical_name} sidecar staged next to a commit
        dir's data files (see :meth:`_write_data_files`), or None for
        dirs written before sidecars existed."""
        try:
            with open(
                os.path.join(self.data_dir, commit_dir, self._WRITE_MAPPING)
            ) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def _load_file_stats_sidecar(self, commit_dir: str) -> dict:
        """{relpath: {physical_name: [lo, hi]}} staged with a commit
        dir's files (empty for pre-stats dirs — those files are simply
        never skipped)."""
        try:
            with open(
                os.path.join(self.data_dir, commit_dir, self._FILE_STATS)
            ) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {}

    def _load_bloom_sidecar(self, commit_dir: str) -> dict:
        """Parsed (and bit-decoded) bloom sidecar for one commit dir;
        cached per handle. Empty dict for dirs without blooms."""
        got = self._bloom_cache.get(commit_dir)
        if got is None:
            import base64

            try:
                with open(
                    os.path.join(self.data_dir, commit_dir, self._BLOOM)
                ) as f:
                    got = json.load(f)
                for per in got.values():
                    for ent in per.values():
                        ent["_bits"] = base64.b64decode(ent["bits"])
            except (OSError, json.JSONDecodeError, KeyError, ValueError):
                got = {}
            self._bloom_cache[commit_dir] = got
        return got

    def _bloom_entry(self, snap: Snapshot, d: str, rel: str, col: str):
        """The bloom record for (file, logical column), resolved through
        the dir's field-id mapping so renames keep pruning."""
        side = self._load_bloom_sidecar(d)
        if not side:
            return None
        fid = str(snap.field_ids.get(col, ""))
        return side.get(rel, {}).get(snap.layout(d).physical(fid, col))

    def _harvest_column_stats(self, rel_files: list[str]) -> dict:
        """Per-file column min/max from the just-written parquet footers:
        {relpath: {physical_name: [lo, hi]}}. Driver-side footer reads —
        O(#files) metadata, no row data (the same information Iceberg's
        writers aggregate into manifests). A column missing stats in ANY
        row group, or carrying an untrackable type, is omitted — absent
        bounds mean "never skip this file on that column"."""
        import pyarrow.parquet as _pq

        out: dict = {}
        for rel in rel_files:
            md = _pq.read_metadata(os.path.join(self.path, rel))
            raw: dict = {}
            nulls: dict = {}
            poison: set = set()
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if "." in name:
                        continue  # nested columns aren't tracked
                    st = col.statistics
                    # null counts accumulate independently of min/max —
                    # an all-null column HAS no bounds but its null count
                    # is exactly what is_null/is_not_null pruning needs
                    if st is not None and st.null_count is not None:
                        if name in nulls or rg == 0:
                            nulls[name] = nulls.get(name, 0) + int(st.null_count)
                    else:
                        nulls.pop(name, None)
                        poison.add(name + "\0nulls")
                    if name in poison:
                        continue
                    if st is None or not st.has_min_max:
                        poison.add(name)
                        raw.pop(name, None)
                        continue
                    try:
                        lo, hi = st.min, st.max
                    except Exception:
                        # pyarrow can't decode stats for some logical
                        # types (e.g. small decimals) — skip, never fail
                        poison.add(name)
                        raw.pop(name, None)
                        continue
                    if name in raw:
                        plo, phi = raw[name]
                        try:
                            raw[name] = (min(plo, lo), max(phi, hi))
                        except TypeError:
                            poison.add(name)
                            raw.pop(name, None)
                    else:
                        raw[name] = (lo, hi)
            nulls = {
                n: c for n, c in nulls.items() if n + "\0nulls" not in poison
            }
            stats = {}
            for name in set(raw) | set(nulls):
                lo_hi = raw.get(name)
                elo = ehi = None
                if lo_hi is not None:
                    elo, ehi = _encode_bound(lo_hi[0]), _encode_bound(lo_hi[1])
                    if elo is None or ehi is None:
                        elo = ehi = None
                nc = nulls.get(name)
                if elo is None and nc is None:
                    continue
                # [lo, hi] when only bounds; [lo, hi, null_count] when
                # null counts are known (lo/hi None for all-null columns)
                stats[name] = [elo, ehi] if nc is None else [elo, ehi, nc]
            if stats:
                stats["__rows__"] = md.num_rows
                out[rel] = stats
        return out

    def _harvest_bloom(
        self, rel_files: list[str], cols: list[str], nbits: int
    ) -> dict:
        """Per-file bloom bitmaps for equality skipping:
        ``{relpath: {physical_name: {nbits, k, type, bits(b64)}}}``.
        One distributed pass over ONLY the indexed columns of the
        just-written files (executor-side xxhash64 + per-file Arrow-
        batched bitmap build; the driver receives nbits/8 bytes per
        file-column, never row data). Columns whose type the driver-side
        literal hash can't replicate are skipped — absent entries mean
        'never skip on this column'."""
        import base64

        import pandas as pd

        abs_files = [os.path.join(self.path, r) for r in rel_files]
        sdf = self.spark.read.parquet(*abs_files)
        avail = {f.name: f.dataType for f in sdf.schema.fields}
        cols = [
            c
            for c in cols
            if c in avail and avail[c].typeName() in self._BLOOM_TYPES
        ]
        if not cols or not rel_files:
            return {}
        k = self._BLOOM_K
        hdf = sdf.select(
            F.input_file_name().alias("__f"),
            *[
                F.xxhash64(F.col(c)).alias(f"__h{i}")
                for i, c in enumerate(cols)
            ],
        )
        n_cols = len(cols)

        # Zero-shuffle build: each task accumulates per-(file, column)
        # bitmaps across its Arrow batches and emits ONE partial bitmap
        # row per pair; the driver ORs partials (a file split across
        # tasks yields <= #tasks small rows, never row data). This is
        # the 100 TB shape — no groupBy-by-file shuffle of the hashes.
        def _build(batches):
            import numpy as np

            acc: dict = {}
            for pdf in batches:
                for fname, sub in pdf.groupby("__f", sort=False):
                    maps = acc.setdefault(fname, [None] * n_cols)
                    for i in range(n_cols):
                        h = (
                            sub[f"__h{i}"]
                            .to_numpy(dtype=np.int64)
                            .astype(np.uint64)
                        )
                        lo = h & np.uint64(0xFFFFFFFF)
                        hi = (h >> np.uint64(32)) | np.uint64(1)
                        if maps[i] is None:
                            maps[i] = np.zeros(nbits, dtype=bool)
                        for j in range(k):
                            maps[i][
                                (
                                    (lo + np.uint64(j) * hi)
                                    % np.uint64(nbits)
                                ).astype(np.int64)
                            ] = True
            out = [
                {"file": f, "idx": i, "bits": np.packbits(maps[i]).tobytes()}
                for f, maps in acc.items()
                for i in range(n_cols)
                if maps[i] is not None
            ]
            if out:
                yield pd.DataFrame(out)

        rows = hdf.mapInPandas(
            _build, schema="file string, idx int, bits binary"
        ).collect()
        from urllib.parse import unquote, urlparse

        types = {c: avail[c].simpleString() for c in cols}
        merged: dict = {}
        for r in rows:
            rel = os.path.relpath(unquote(urlparse(r["file"]).path), self.path)
            key = (rel, r["idx"])
            if key in merged:
                import numpy as np

                merged[key] = (
                    np.frombuffer(merged[key], dtype="uint8")
                    | np.frombuffer(r["bits"], dtype="uint8")
                ).tobytes()
            else:
                merged[key] = r["bits"]
        out: dict = {}
        for (rel, idx), bits in merged.items():
            c = cols[idx]
            out.setdefault(rel, {})[c] = {
                "nbits": nbits,
                "k": k,
                "type": types[c],
                "bits": base64.b64encode(bits).decode("ascii"),
            }
        return out

    def _harvest_ndv(self, rel_files: list[str], cols: list[str]) -> dict:
        """Per-file Datasketches HLL sketches for NDV statistics:
        ``{relpath: {physical_name: b64(sketch)}}``. One aggregation
        over the indexed columns grouped by file — hll_sketch_agg is
        map-side combinable, so the shuffle moves KB-sized sketch
        partials, never values. The same mergeable-sketch role Iceberg's
        Puffin blobs play for its planner."""
        import base64

        abs_files = [os.path.join(self.path, r) for r in rel_files]
        sdf = self.spark.read.parquet(*abs_files)
        avail = {f.name: f.dataType for f in sdf.schema.fields}
        cols = [
            c
            for c in cols
            if c in avail and avail[c].typeName() in self._NDV_TYPES
        ]
        if not cols or not rel_files:
            return {}
        rows = (
            sdf.groupBy(F.input_file_name().alias("__f"))
            .agg(
                *[
                    F.hll_sketch_agg(F.col(c)).alias(f"__s{i}")
                    for i, c in enumerate(cols)
                ]
            )
            .collect()
        )
        from urllib.parse import unquote, urlparse

        out: dict = {}
        for r in rows:
            rel = os.path.relpath(unquote(urlparse(r["__f"]).path), self.path)
            for i, c in enumerate(cols):
                sk = r[f"__s{i}"]
                if sk is not None:
                    out.setdefault(rel, {})[c] = base64.b64encode(
                        bytes(sk)
                    ).decode("ascii")
        return out

    def approx_ndv(self, col: str, snapshot_id: int | None = None) -> int:
        """Approximate distinct-value count of ``col`` from per-file HLL
        sketches (``write.ndv.columns``): files with a staged sketch
        contribute at METADATA cost; uncovered files (pre-property
        commits, unsupported types at their write time) are sketched
        on the fly and unioned in — always correct to HLL error, cheap
        in proportion to sketch coverage. Estimates ignore row-level
        deletes (a sketch can't subtract) — like any file-level NDV
        stat, it upper-bounds the live table after MOR deletes until
        compaction rewrites."""
        import base64

        snap = self._resolve_snapshot(snapshot_id)
        fid = str(snap.field_ids.get(col, ""))
        sketches: list[bytes] = []
        missing: list[str] = []
        for rel in snap.manifest:
            d = _commit_dir_of(rel)
            phys = snap.layout(d).physical(fid, col)
            side = self._load_ndv_sidecar(d)
            b64 = side.get(rel, {}).get(phys)
            if b64 is not None:
                sketches.append(base64.b64decode(b64))
            else:
                missing.append(rel)
        if missing:
            # one sketch over the uncovered files via the proper scan
            # path (rename-proof: physical names resolve per dir)
            row = (
                self._scan_snapshot(snap, files=missing)
                .agg(F.hll_sketch_agg(F.col(col)).alias("s"))
                .first()
            )
            if row["s"] is not None:
                sketches.append(bytes(row["s"]))
        if not sketches:
            return 0
        df = self.spark.createDataFrame(
            [(s,) for s in sketches], "sk binary"
        )
        est = df.agg(
            F.hll_sketch_estimate(F.hll_union_agg(F.col("sk"))).alias("n")
        ).first()["n"]
        return int(est or 0)

    def _load_ndv_sidecar(self, commit_dir: str) -> dict:
        try:
            with open(
                os.path.join(self.data_dir, commit_dir, self._NDV)
            ) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return {}

    def _write_data_files(
        self,
        df: DataFrame,
        partition_by: list[str] | None = None,
        *,
        field_ids: dict | None = None,
        properties: dict | None = None,
    ) -> tuple[str, list[str]]:
        """Distributed parquet write of one commit's data into a fresh
        subdirectory; returns (dirname, relative file list). With
        ``partition_by``, files land under hive-style ``col=value/``
        subdirectories of the commit dir (the partition columns live in
        the paths, not the files — Spark's partitioned writer).
        ``field_ids`` and ``properties`` feed :meth:`_stage_sidecars`."""
        commit_dir = f"snap-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.data_dir, commit_dir)
        props = properties
        if props is None:
            snap0 = self.current_snapshot() if self.exists() else None
            props = snap0.properties if snap0 else {}
        spec_fields = _parse_spec(partition_by or [])
        if spec_fields:
            # transform entries derive a hidden partition column (the
            # source column STAYS in the files; identity columns move to
            # the paths, Spark's partitioned writer)
            types = {f.name: f.dataType for f in df.schema.fields}
            for sf in spec_fields:
                if sf.transform != "identity":
                    df = df.withColumn(
                        sf.pname, _transform_expr(sf, types[sf.source])
                    )
            # write.distribution-mode (Iceberg parity): without it, a
            # partitioned write from N tasks opens a file in EVERY
            # partition it touches — N x P small files at scale. 'hash'
            # clusters rows by partition value first (one shuffle, ~1
            # file per partition); 'range' range-partitions for sorted
            # layouts. Default 'none' preserves task-parallel writes.
            mode = (props or {}).get("write.distribution-mode", "none")
            pcols = [F.col(sf.pname) for sf in spec_fields]
            if mode == "hash":
                df = df.repartition(*pcols)
            elif mode == "range":
                df = df.repartitionByRange(*pcols)
        # write.sort.columns (Iceberg ``WRITE ORDERED BY`` parity): sort
        # every task's output on the listed columns, so the manifest's
        # per-file min/max bounds are tight ON INGEST and parquet
        # row-group stats cluster — the stats-as-index win of a sorted
        # compaction without waiting for one. Task-local sort only (no
        # extra shuffle); combine with write.distribution-mode=range on
        # the same columns for globally disjoint file bounds.
        sort_cols = self._sort_columns(props, df.columns)
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        w = df.write.mode("error")
        # write.parquet.compression-codec (Iceberg table property): the
        # codec travels with the TABLE, not the session — replicas and
        # maintenance rewrites keep the owner's storage choice
        codec = (props or {}).get("write.parquet.compression-codec")
        if codec:
            w = w.option("compression", codec)
        if spec_fields:
            w = w.partitionBy(*[sf.pname for sf in spec_fields])
        w.parquet(out)
        files = []
        for root, _dirs, names in os.walk(out):
            for f in names:
                if f.endswith(".parquet"):
                    files.append(
                        os.path.relpath(os.path.join(root, f), self.path)
                    )
        files.sort()
        self._stage_sidecars(
            commit_dir, files, df.columns, field_ids, props,
            list(partition_by or []),
        )
        return commit_dir, files

    # pyarrow's names for the Spark parquet codecs it writes differently
    _ARROW_CODECS = {"uncompressed": "none", "lz4_raw": "lz4"}

    def _write_arrow_files(
        self, data: pa.Table, *, field_ids: dict | None, properties: dict,
        parts: int = 1,
    ) -> tuple[str, list[str]]:
        """In-process parquet write of one already-aligned Arrow table
        into a fresh commit dir of an unpartitioned table — no Spark job.
        The rows split, in input order, into ``parts`` near-equal slices,
        one file each, cut where Spark's ``parallelize`` cuts them (slice
        ``i`` holds rows ``[i*n//parts, (i+1)*n//parts)``). Each file is
        sorted like Spark's task-local sort (``write.sort.columns``,
        ascending, nulls first, NaN last) and written in the table's
        codec. One sidecar set for the dir, through
        :meth:`_stage_sidecars`."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        sort_cols = self._sort_columns(properties, data.column_names)

        def _sorted(piece: pa.Table) -> pa.Table:
            keys, order = {}, []
            for i, c in enumerate(sort_cols):
                col = piece.column(c)
                if pa.types.is_floating(col.type):
                    keys[f"n{i}"] = pc.is_nan(col)
                    order.append((f"n{i}", "ascending"))
                keys[f"k{i}"] = col
                order.append((f"k{i}", "ascending"))
            return piece.take(
                pc.sort_indices(
                    pa.table(keys), sort_keys=order, null_placement="at_start"
                )
            )

        codec = properties.get("write.parquet.compression-codec", "snappy")
        codec = self._ARROW_CODECS.get(codec.lower(), codec.lower())
        commit_dir = f"snap-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.data_dir, commit_dir)
        os.makedirs(out)
        tag = uuid.uuid4()
        n = data.num_rows
        cuts = [i * n // parts for i in range(parts + 1)]
        rels = []
        try:
            for i, (lo, hi) in enumerate(zip(cuts, cuts[1:])):
                piece = data.slice(lo, hi - lo)
                rel = os.path.relpath(
                    os.path.join(out, f"part-{i:05d}-{tag}.parquet"), self.path
                )
                # no ARROW:schema: pyarrow then reads these files back
                # from the parquet schema alone, exactly as it reads Spark's
                pq.write_table(
                    _sorted(piece) if sort_cols else piece,
                    os.path.join(self.path, rel), compression=codec,
                    store_schema=False,
                )
                rels.append(rel)
            self._stage_sidecars(
                commit_dir, rels, data.column_names, field_ids, properties, []
            )
        except BaseException:
            import shutil

            shutil.rmtree(out, ignore_errors=True)
            raise
        return commit_dir, rels

    @staticmethod
    def _sort_columns(props: dict | None, columns: list[str]) -> list[str]:
        """``write.sort.columns`` as a list; unknown columns refuse."""
        sort_cols = [
            c.strip()
            for c in (props or {}).get("write.sort.columns", "").split(",")
            if c.strip()
        ]
        missing = [c for c in sort_cols if c not in columns]
        if missing:
            raise ValueError(
                f"write.sort.columns references unknown columns {missing}"
            )
        return sort_cols

    def _stage_sidecars(
        self, commit_dir: str, files: list[str], columns: list[str],
        field_ids: dict | None, props: dict | None, spec: list,
    ) -> None:
        """Stage a commit dir's JSON sidecars beside its data files; every
        writer (Spark, Arrow, ``add_files``) ends here.

        - ``field_ids`` (the WRITE-time logical-name -> id map) stages a
          ``_write_mapping.json`` recording the physical name each id was
          written under. ``_publish`` prefers it when building the
          dir's layout record — the record that keeps a staged append
          resolvable when a rename/drop commits between write and publish
          (publish-time ids would stamp the wrong names and the columns
          would silently read back as NULL).
        - column bounds: ``_publish`` folds them into the snapshot's
          file_stats (manifest pruning); they too survive a stage/publish
          gap.
        - opt-in per-file bloom filters (``write.bloom.columns``) and HLL
          NDV sketches (``write.ndv.columns``) stay in sidecars, NOT the
          snapshot JSON — KBs per file-column, loaded only by the scans
          and estimates that use them.
        - the partition spec the files were WRITTEN under — the layout a
          later update_partition_spec must keep reading this dir with."""
        out = os.path.join(self.data_dir, commit_dir)
        props = props or {}

        def _dump(name, obj):
            with open(os.path.join(out, name), "w") as f:
                json.dump(obj, f)

        if field_ids is not None:
            _dump(
                self._WRITE_MAPPING,
                {str(field_ids[n]): n for n in columns if n in field_ids},
            )
        _dump(self._FILE_STATS, self._harvest_column_stats(files))
        # identity-partition columns live in paths, not files; transforms
        # keep their source column physical — filter to what's in-file
        path_cols = {sf.pname for sf in _parse_spec(spec)}

        def _listed(key):
            return [
                c.strip()
                for c in props.get(key, "").split(",")
                if c.strip() and c.strip() not in path_cols
            ]

        bloom_cols = _listed("write.bloom.columns")
        if bloom_cols and files:
            nbits = 1 << max(
                10,
                int(props.get("write.bloom.nbits", 1 << 20)).bit_length() - 1,
            )
            blooms = self._harvest_bloom(files, bloom_cols, nbits)
            if blooms:
                _dump(self._BLOOM, blooms)
        ndv_cols = _listed("write.ndv.columns")
        if ndv_cols and files:
            sketches = self._harvest_ndv(files, ndv_cols)
            if sketches:
                _dump(self._NDV, sketches)
        _dump(self._WRITE_SPEC, list(spec))

    # ---------- public write API ----------

    def _write_whole(
        self, data: DataFrame | pa.Table, schema: StructType, spec: list,
        properties: dict,
    ) -> list[str]:
        """Data files of a create or overwrite of ``data`` (whose Spark
        schema is ``schema``). An Arrow table bound for an unpartitioned
        spec is written in-process, in the files Spark's writer would
        make of it: one per ``parallelize`` slice, at most
        ``defaultParallelism``. A DataFrame, or any partitioned spec
        (hive paths, null partitions, transforms), goes through Spark's
        writer."""
        if isinstance(data, pa.Table):
            if not spec:
                parts = min(
                    max(data.num_rows, 1),
                    self.spark.sparkContext.defaultParallelism,
                )
                return self._write_arrow_files(
                    self._align_arrow_to_schema(data, schema),
                    field_ids=None, properties=properties, parts=parts,
                )[1]
            from icerunner_spark.connector import arrow_to_df

            data = arrow_to_df(self.spark, data)
        return self._write_data_files(data, spec, properties=properties)[1]

    def create(
        self, data: DataFrame | pa.Table, *, overwrite_ok: bool = False,
        summary: dict | None = None, partition_by: list[str] | None = None,
        properties: dict | None = None,
    ) -> Snapshot:
        """Create the table from ``data`` — a DataFrame, or an Arrow
        table read as ``arrow_to_df`` reads it (see :meth:`_write_whole`
        for which writer runs)."""
        if self.exists() and not overwrite_ok:
            raise ValueError(f"table already exists: {self.path}")
        schema = _spark_schema_of(data)
        names = schema.fieldNames()
        partition_by = list(partition_by or [])
        spec_fields = _parse_spec(partition_by)
        missing = [sf.source for sf in spec_fields if sf.source not in names]
        if missing:
            raise ValueError(f"partition columns not in schema: {missing}")
        types = {f.name: f.dataType for f in schema.fields}
        bad = [
            sf
            for sf in spec_fields
            if not _transform_supported(sf, types[sf.source])
        ]
        if bad:
            raise ValueError(
                "partition transform not supported for column type: "
                + ", ".join(
                    f"{sf.transform}({sf.source}: "
                    f"{types[sf.source].simpleString()})"
                    for sf in bad
                )
            )
        clash = [
            sf.pname
            for sf in spec_fields
            if sf.transform != "identity" and sf.pname in names
        ]
        if clash:
            raise ValueError(
                f"derived partition column name collides with schema: {clash}"
            )
        files = self._write_whole(data, schema, partition_by, properties or {})
        return self._publish(
            "create", files, schema.json(), replace_manifest=True,
            summary={"added_rows_estimated": None, **(summary or {})},
            evolve=lambda fids, nid: _reconcile_ids(fids, nid, names),
            partition_spec=partition_by,
            properties=properties or {},
        )

    def properties(self) -> dict:
        snap = self.current_snapshot()
        return dict(snap.properties) if snap else {}

    def rewrite_manifests(self) -> Snapshot:
        """Consolidate the snapshot's segment chain into one fresh
        manifest segment (Iceberg ``rewrite_manifests``): a metadata-only
        'alter' commit — no data moves, CDC passes through. The chain
        self-consolidates when tombstones or refs outgrow the manifest;
        this is the explicit hook for after a burst of small commits."""
        if not self.exists():
            raise NoSuchTableError(self.path)
        snap = self.current_snapshot()
        return self._publish(
            "alter", [], snap.schema_json, inherit_schema=True,
            summary={"operation_detail": "rewrite-manifests"},
            fresh_segments=True,
        )

    def set_properties(self, updates: dict) -> Snapshot:
        """Metadata-only table-property change (Iceberg ``ALTER TABLE
        SET TBLPROPERTIES``): merge ``updates`` over the current map
        (a None value unsets the key) and publish an 'alter' snapshot —
        no data moves, CDC passes through. Write-path properties (e.g.
        ``write.bloom.columns``) take effect for FUTURE writes only;
        existing files without sidecars simply never skip."""
        if not self.exists():
            raise NoSuchTableError(self.path)
        snap = self.current_snapshot()
        # merged INSIDE the commit retry loop (properties_update), so a
        # property change racing this one is never silently reverted
        return self._publish(
            "alter", [], snap.schema_json, inherit_schema=True,
            summary={"operation_detail": "set-properties",
                     "updated_keys": sorted(updates)},
            properties_update=dict(updates),
        )

    def append(
        self, data: DataFrame | pa.Table, *, summary: dict | None = None
    ) -> Snapshot:
        """Stage (:meth:`stage_append`) and publish one append."""
        if not self.exists():
            raise NoSuchTableError(self.path)
        return self.publish_append(self.stage_append(data), summary=summary)

    def _writer_high_water(self, writer_id: str) -> int:
        """Highest batch id ``append_once`` has committed for this
        writer. The table property is authoritative whenever present —
        every append_once commit stamps it, so a long-running stream
        answers from ONE metadata read per microbatch, O(1) in history
        length. The summary walk runs only for histories from before the
        property existed (a legacy table whose stamps live solely in
        snapshot summaries); batch ids only grow, so it stops at the
        newest stamped snapshot."""
        snap = self.current_snapshot()
        prop = (snap.properties if snap else {}).get(
            f"stream.{writer_id}.high-water"
        )
        if prop is not None:
            return int(prop)
        stamped = next(
            (
                s for s in self._walk_history()
                if s.summary.get("stream_writer") == writer_id
                and s.summary.get("stream_batch_id") is not None
            ),
            None,
        )
        return -1 if stamped is None else int(stamped.summary["stream_batch_id"])

    def append_once(
        self, df: DataFrame, *, writer_id: str, batch_id: int,
        summary: dict | None = None,
    ) -> Snapshot | None:
        """Idempotent append for exactly-once streaming delivery (the
        Iceberg/Flink sink's checkpoint-id dedupe, Spark's foreachBatch
        replay guard). ``batch_id`` must be monotonically increasing per
        ``writer_id`` — Spark microbatch ids are. If the batch was
        already committed (crash between the append and the stream's
        checkpoint commit, then replay), returns None without writing.

        The high-water mark is stamped twice in the SAME commit: in the
        snapshot summary (audit trail) and as table property
        ``stream.<writer_id>.high-water`` — properties inherit
        commit-over-commit and are merged against the winning parent
        inside the commit retry, so the mark survives snapshot EXPIRY
        and concurrent writers with other ids never clobber it."""
        if batch_id <= self._writer_high_water(writer_id):
            return None
        stamp = {
            "stream_writer": writer_id,
            "stream_batch_id": str(int(batch_id)),
            **(summary or {}),
        }
        return self.publish_append(
            self.stage_append(df),
            summary=stamp,
            properties_update={
                f"stream.{writer_id}.high-water": str(int(batch_id))
            },
        )

    def _write_cast_needed(self, name: str, dt, declared) -> bool:
        """Whether a column of type ``dt`` must be cast to go into the
        table's ``declared`` type: False when it already is that type,
        True when it equals it modulo nullability (e.g. array<string>
        with a different containsNull, unless ``declared`` is the one
        that forbids nulls — Spark refuses that cast) or sits safely BELOW it on the
        widening lattice (int-family up, float->double, same-scale
        decimal precision growth). A WIDER input refuses loudly: writing
        it would put physical pages above the declared type, which the
        reader cannot downcast — the file would poison every future scan
        (e.g. a decimal SUM that silently widened precision)."""
        if dt == declared:
            return False
        if dt.simpleString() == declared.simpleString():
            if _nulls_narrowed(dt, declared):
                raise ValueError(
                    f"column {name} may hold nested nulls where the table's "
                    f"{declared.simpleString()} declares none — not safely "
                    f"writable"
                )
            return True
        ok = (dt.typeName(), declared.typeName()) in self._WIDEN_OK
        if dt.typeName() == "decimal" and declared.typeName() == "decimal":
            ok = dt.scale == declared.scale and dt.precision <= declared.precision
        if not ok:
            raise ValueError(
                f"column {name} is {dt.simpleString()} but the table "
                f"declares {declared.simpleString()} — not safely "
                f"writable; cast explicitly or widen_column first"
            )
        return True

    def _align_df_to_schema(self, df: DataFrame, schema: StructType) -> DataFrame:
        """Reorder ``df`` to the table's column order and upcast columns
        per :meth:`_write_cast_needed`. Missing columns raise in the
        select."""
        types = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for f in schema.fields:
            dt = types.get(f.name)
            if dt is None or not self._write_cast_needed(f.name, dt, f.dataType):
                cols.append(F.col(f.name))
            else:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
        return df.select(*cols)

    def _align_arrow_to_schema(self, data: pa.Table, schema: StructType) -> pa.Table:
        """Arrow twin of :meth:`_align_df_to_schema`. Each column takes
        the Spark type that ``arrow_to_df`` would give it, passes the
        same lattice check, and is cast to the declared type's Arrow
        form. Naive timestamps bound for ``timestamp`` columns are read
        in the session time zone first, as Spark's Arrow conversion
        reads them; every field turns nullable, as Spark's file writer
        makes them."""
        from pyspark.sql.pandas.types import (
            _check_arrow_table_timestamps_localize,
            to_arrow_type,
        )

        missing = [f.name for f in schema.fields if f.name not in data.column_names]
        if missing:
            raise ValueError(f"appended data lacks table columns {missing}")
        data = _timestamps_to_us(data.select([f.name for f in schema.fields]))
        given = _spark_schema_of(data)
        for g, f in zip(given.fields, schema.fields):
            self._write_cast_needed(f.name, g.dataType, f.dataType)
        data = _check_arrow_table_timestamps_localize(
            data, given, True, self.spark.conf.get("spark.sql.session.timeZone")
        )
        return data.cast(
            pa.schema(
                [
                    pa.field(f.name, _nullable_arrow(to_arrow_type(f.dataType)))
                    for f in schema.fields
                ]
            )
        )

    def stage_append(self, data: DataFrame | pa.Table) -> list[str]:
        """Write append data files WITHOUT publishing a snapshot. Returns
        the relative file list; pass the concatenation of one or more
        staged lists to :meth:`publish_append` to commit them as ONE
        snapshot. Staged files are invisible to readers until published
        (manifests are the only read path), so an abandoned stage leaves
        orphan files for cleanup, never a partially-applied write —
        the same write-then-commit protocol Iceberg uses.

        The writer follows the input: an Arrow table bound for an
        unpartitioned table is written in-process by
        :meth:`_write_arrow_files` (no Spark job — the data already sits
        in driver memory), as one file: an append chunk is never split,
        while a create or overwrite splits its rows as Spark would. A
        DataFrame, or any append to a partitioned table (hive paths and
        transforms), goes through Spark's writer."""
        snap = self.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.path)
        # Align to table schema by name (reference appends Arrow tables whose
        # schema must match, icerunner.py:163-178; we additionally reorder
        # and upcast safely-narrower columns).
        table_schema = StructType.fromJson(json.loads(snap.schema_json))
        spec = list(snap.partition_spec)
        # stage-time field ids ride along in the sidecar so publish stays
        # correct across a concurrent rename (see _stage_sidecars)
        if isinstance(data, pa.Table):
            if not spec:
                _, files = self._write_arrow_files(
                    self._align_arrow_to_schema(data, table_schema),
                    field_ids=snap.field_ids, properties=snap.properties,
                )
                return files
            from icerunner_spark.connector import arrow_to_df

            data = arrow_to_df(self.spark, data)
        _, files = self._write_data_files(
            self._align_df_to_schema(data, table_schema), spec,
            field_ids=snap.field_ids, properties=snap.properties,
        )
        return files

    def discard_staged(self, files: list[str]) -> None:
        """Delete the commit dirs of staged, never-published files —
        data files and sidecars alike (best effort;
        :meth:`remove_orphans` collects anything left)."""
        import shutil

        for d in sorted({_commit_dir_of(f) for f in files}):
            shutil.rmtree(os.path.join(self.data_dir, d), ignore_errors=True)

    def publish_append(
        self, files: list[str], *, summary: dict | None = None,
        properties_update: dict | None = None,
    ) -> Snapshot:
        """Atomically commit previously staged append files (metadata-only).
        ``summary`` entries land in the snapshot's summary dict — writers
        use this to stamp application-level idempotency markers (e.g. the
        mirror's microbatch id) that survive crashes with the commit.
        ``properties_update`` merges table properties in the same commit
        (race-free against the winning parent)."""
        if not self.exists():
            raise NoSuchTableError(self.path)
        # inherit_schema: the published snapshot takes the WINNING
        # parent's schema — an append must not revert a rename/add/drop
        # that committed while the files were staged (the sidecar keeps
        # the staged files resolvable either way)
        return self._publish(
            "append", list(files), self.schema().json(),
            summary=summary, inherit_schema=True,
            properties_update=properties_update,
        )

    def add_files(self, paths: list[str], *, link: bool = True) -> Snapshot:
        """Register EXISTING parquet files as one append WITHOUT reading
        or rewriting their data (Iceberg's ``add_files`` procedure — the
        ingestion path for registering a crawl dump or an exported
        dataset at metadata cost). Files hard-link (fallback: copy) into
        a fresh commit dir; their footers are schema-checked against the
        table — same column-name set, each physical type either exactly
        the declared type or safely below it on the widening lattice
        (the reader upcasts narrow pages natively) — and their column
        stats harvest into the manifest like any write. The imported dir
        records an EMPTY write-spec, so on a partitioned table it simply
        reads as an unpartitioned dir (per-dir layout machinery);
        compaction migrates it into the table's layout later."""
        import shutil as _shutil

        import pyarrow.parquet as _pq

        from pyspark.sql.pandas.types import from_arrow_schema

        if not self.exists():
            raise NoSuchTableError(self.path)
        if not paths:
            raise ValueError("add_files requires at least one path")
        snap = self.current_snapshot()
        table_schema = StructType.fromJson(json.loads(snap.schema_json))
        declared = {f.name: f.dataType for f in table_schema.fields}
        for p in paths:
            file_schema = from_arrow_schema(_pq.read_schema(p))
            got = {f.name: f.dataType for f in file_schema.fields}
            if set(got) != set(declared):
                raise ValueError(
                    f"{p}: column names {sorted(got)} do not match table "
                    f"schema {sorted(declared)}"
                )
            for n, ft in got.items():
                dt = declared[n]
                if ft == dt:
                    continue
                ok = (ft.typeName(), dt.typeName()) in self._WIDEN_OK
                if ft.typeName() == "decimal" and dt.typeName() == "decimal":
                    ok = ft.scale == dt.scale and ft.precision <= dt.precision
                if not ok:
                    raise ValueError(
                        f"{p}: column {n} is {ft.simpleString()}, table "
                        f"declares {dt.simpleString()} — not readable as-is"
                    )
        commit_dir = f"snap-{uuid.uuid4().hex[:12]}"
        out = os.path.join(self.data_dir, commit_dir)
        os.makedirs(out)
        files = []
        for i, p in enumerate(sorted(paths)):
            dst = os.path.join(out, f"part-{i:05d}-added.parquet")
            try:
                if link:
                    os.link(p, dst)
                else:
                    raise OSError
            except OSError:
                _shutil.copy2(p, dst)
            files.append(os.path.relpath(dst, self.path))
        self._stage_sidecars(
            commit_dir, files, list(declared), snap.field_ids,
            snap.properties, [],
        )
        return self._publish(
            "append", files, snap.schema_json,
            summary={"operation_detail": f"add_files {len(files)}"},
            inherit_schema=True,
        )

    def overwrite(
        self, data: DataFrame | pa.Table, *, summary: dict | None = None
    ) -> Snapshot:
        """Full replace (new manifest drops previous files logically;
        physical files stay for time travel until expire_snapshots).
        The partition spec carries over when the new schema still has the
        partition columns; otherwise the table becomes unpartitioned.
        ``data`` is a DataFrame or an Arrow table, written as
        :meth:`_write_whole` says."""
        schema = _spark_schema_of(data)
        names = schema.fieldNames()
        spec = [
            entry
            for entry, src in zip(
                self.partition_spec(), _spec_sources(self.partition_spec())
            )
            if src in names
        ]
        snap0 = self.current_snapshot() if self.exists() else None
        files = self._write_whole(
            data, schema, spec, snap0.properties if snap0 else {}
        )
        return self._publish(
            "overwrite", files, schema.json(), replace_manifest=True,
            summary=summary,
            evolve=lambda fids, nid: _reconcile_ids(fids, nid, names),
            partition_spec=spec,
        )

    def merge(
        self, updates: DataFrame, key_cols: list[str], *,
        mode: str = "copy-on-write", null_safe: bool = False,
        summary: dict | None = None,
        require_parent_snapshot_id: int | None = None,
    ) -> Snapshot:
        """Upsert (Iceberg ``MERGE INTO ... WHEN MATCHED THEN UPDATE WHEN
        NOT MATCHED THEN INSERT`` parity): rows in ``updates`` replace
        current rows with the same key; unmatched keys insert. Duplicate
        keys WITHIN ``updates`` are rejected — Iceberg raises on multiple
        matches, and silently keeping an arbitrary one would be
        nondeterministic.

        ``mode="copy-on-write"`` (default) rewrites the whole table;
        Iceberg prunes that rewrite to files containing matched keys —
        the documented swap-in (SCALE.md), same commit semantics.

        ``mode="merge-on-read"``: the matched rows' (file, position)
        coordinates go to a positional delete file and the updates append
        as new data files — ONE snapshot, O(changed rows) IO. This is the
        production CDC-apply path: upserting 0.1% of a 100 TB table costs
        MBs. Incremental CDC treats it like an overwrite (rows were
        replaced, the diff is not append-only); compaction materializes
        back to a plain manifest.

        ``null_safe=True`` matches keys with ``<=>`` semantics (a NULL
        key equals a NULL key) — required by writers whose key domain
        includes NULL groups, e.g. materialized-view maintenance, where
        plain equality would insert a duplicate NULL-key row instead of
        updating the existing one. ``summary`` entries land in the
        published snapshot (idempotency markers, cursors).

        ``require_parent_snapshot_id``: read-modify-write callers
        (materialized-view refresh, index maintenance) pass the snapshot
        their upsert VALUES were derived from; if the table advanced
        past it the commit raises :class:`CommitConflict` instead of
        silently interleaving with the concurrent writer (for
        merge-on-read that race would leave duplicate key rows — both
        writers' appends survive with delete files that each only cover
        the pre-race positions). Copy-on-write merges always enforce
        this against the snapshot they rewrote."""
        from functools import reduce
        if not self.exists():
            raise NoSuchTableError(self.path)
        if not key_cols:
            raise ValueError("merge requires at least one key column")
        # `updates` is delta-sized by contract but its LINEAGE may be
        # arbitrarily expensive (a changelog aggregation, a table scan);
        # uncheckpointed it would re-execute for the dupe check, the
        # distinct-keys probe, and the data write. Materialized once
        # when (and only when) the lineage is non-trivial: a
        # filter-shaped delta is cheaper to recompute than to
        # checkpoint, and the gate keeps the checkpoint's fixed cost off
        # the tiny-delta fast path.
        updates = _materialize_if_costly(updates)
        dupes = (
            updates.groupBy(*key_cols).count().where(F.col("count") > 1).limit(1).count()
        )
        if dupes:
            raise ValueError("updates contain duplicate merge keys")
        snap = self.current_snapshot()
        if (
            require_parent_snapshot_id is not None
            and snap.snapshot_id != require_parent_snapshot_id
        ):
            # the caller derived `updates` from that snapshot; honor the
            # pin in BOTH modes (copy-on-write would otherwise substitute
            # its own freshly-read id and silently commit stale work)
            raise CommitConflict(
                f"table advanced past snapshot {require_parent_snapshot_id} "
                f"(now {snap.snapshot_id}); recompute and retry"
            )
        table_schema = StructType.fromJson(json.loads(snap.schema_json))
        updates = self._align_df_to_schema(updates, table_schema)
        keys_df = updates.select(*key_cols).distinct()
        if null_safe:
            key_cond = reduce(
                lambda a, b: a & b,
                [
                    F.col(f"t.{k}").eqNullSafe(F.col(f"u.{k}"))
                    for k in key_cols
                ],
            )
        if mode == "copy-on-write":
            tgt = self._scan_snapshot(snap)
            kept = (
                tgt.alias("t").join(keys_df.alias("u"), key_cond, "left_anti")
                if null_safe
                else tgt.join(keys_df, on=key_cols, how="left_anti")
            )
            _, files = self._write_data_files(
                kept.unionByName(updates), list(snap.partition_spec)
            )
            # the rewrite reflects snapshot `snap` — a commit that raced
            # in since would be silently undone, so conflict instead
            return self._publish(
                "overwrite", files, table_schema.json(), replace_manifest=True,
                summary={"operation_detail": "merge", **(summary or {})},
                require_parent_snapshot_id=snap.snapshot_id,
            )
        if mode != "merge-on-read":
            raise ValueError(f"unknown merge mode: {mode}")
        tgt = self._scan_snapshot(snap, with_pos=True)
        matched = (
            (
                tgt.alias("t").join(keys_df.alias("u"), key_cond, "left_semi")
                if null_safe
                else tgt.join(keys_df, on=key_cols, how="left_semi")
            )
            .select(
                F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
            )
            .distinct()
        )
        new_deletes, _ = self._write_delete_files(
            matched, f"snap-{uuid.uuid4().hex[:12]}-deletes"
        )
        _, files = self._write_data_files(
            updates, list(snap.partition_spec), field_ids=snap.field_ids
        )
        return self._publish(
            "merge", files, table_schema.json(),
            summary={"operation_detail": "merge merge-on-read", **(summary or {})},
            add_delete_files=new_deletes, inherit_schema=True,
            require_parent_snapshot_id=require_parent_snapshot_id,
        )

    def merge_into(
        self, source: DataFrame, key_cols: list[str], *,
        update: dict | str | None = "*",
        update_condition=None,
        delete: bool = False,
        delete_condition=None,
        insert: bool = True,
        insert_condition=None,
        insert_values: dict | None = None,
        mode: str = "copy-on-write",
        summary: dict | None = None,
        require_parent_snapshot_id: int | None = None,
    ) -> Snapshot | None:
        """Full ``MERGE INTO`` clause semantics (Iceberg/ANSI parity)::

            MERGE INTO t USING s ON t.k = s.k
            WHEN MATCHED [AND update_condition] THEN UPDATE SET ...
            WHEN MATCHED [AND delete_condition] THEN DELETE
            WHEN NOT MATCHED [AND insert_condition] THEN INSERT *

        - ``update``: ``"*"`` takes every table column from the source
          row; a dict maps target columns to SQL expressions over the
          joined row (target as ``t.<col>``, source as ``s.<col>``) —
          unlisted columns keep their target values; ``None`` drops the
          UPDATE clause.
        - ``update_condition`` / ``delete_condition`` / ``insert_-
          condition``: SQL strings or Columns. Matched rows try UPDATE
          first, then DELETE (SQL clause order); rows matching neither
          condition stay untouched. Insert conditions see only ``s.*``.
        - ``delete=True`` enables the DELETE clause (condition optional
          — unconditional when both update and its condition absent).
        - ``mode="merge-on-read"``: touched rows' coordinates go to ONE
          positional delete file; updated versions + inserts append in
          the same 'merge' snapshot — O(changed rows) IO, the CDC-apply
          shape. Copy-on-write rewrites the table under a parent pin.

        The source may carry columns beyond the table's (condition
        inputs); only table columns are written. Duplicate source keys
        are rejected (multiple matches per target row — same rule as
        :meth:`merge`). Returns None when no clause touches any row.
        Plain upsert stays :meth:`merge` (skips the join-classify pass)."""
        from functools import reduce

        if not self.exists():
            raise NoSuchTableError(self.path)
        if not key_cols:
            raise ValueError("merge_into requires at least one key column")
        if update is None and not delete and not insert:
            raise ValueError("merge_into with no clauses is a no-op")
        if mode not in ("copy-on-write", "merge-on-read"):
            raise ValueError(f"unknown merge mode: {mode}")
        # same rationale as :meth:`merge`: the source is delta-sized but
        # its lineage re-executes for every downstream consumer (dupe
        # check, the classify join, the insert anti-join, the write) —
        # materialize once, but only when the lineage is non-trivial
        source = _materialize_if_costly(source)
        dupes = (
            source.groupBy(*key_cols).count()
            .where(F.col("count") > 1).limit(1).count()
        )
        if dupes:
            raise ValueError("source contains duplicate merge keys")
        snap = self.current_snapshot()
        if (
            require_parent_snapshot_id is not None
            and snap.snapshot_id != require_parent_snapshot_id
        ):
            raise CommitConflict(
                f"table advanced past snapshot {require_parent_snapshot_id} "
                f"(now {snap.snapshot_id}); recompute and retry"
            )
        table_schema = StructType.fromJson(json.loads(snap.schema_json))
        tcols = [f.name for f in table_schema.fields]

        def _cond(c):
            if c is None:
                return F.lit(True)
            return F.expr(c) if isinstance(c, str) else c

        key_cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{k}") == F.col(f"s.{k}") for k in key_cols],
        )
        tgt = self._scan_snapshot(snap, with_pos=True)
        j = tgt.alias("t").join(source.alias("s"), key_cond, "inner")
        # ANSI MERGE: a clause condition evaluating NULL means the clause
        # does not fire and the row falls through to the NEXT clause — so
        # the update condition must coalesce to false before negation, or
        # a NULL comparison would make ~NULL & del_cond NULL and block the
        # DELETE clause for that row entirely.
        upd_take = (
            F.coalesce(_cond(update_condition), F.lit(False))
            if update is not None
            else F.lit(False)
        )
        del_take = (
            (~upd_take) & _cond(delete_condition) if delete else F.lit(False)
        )
        touched = j.filter(upd_take | del_take)
        # O(touched rows); eager checkpoint so the classify join over the
        # table runs once — uncheckpointed, the no-op probe and the
        # delete-file write (or COW anti-join) each re-ran it
        coords = touched.select(
            F.col("t.__file").alias("file_path"), F.col("t.__pos").alias("pos")
        ).distinct().localCheckpoint(eager=True)
        if update is not None:
            if update == "*":
                # UPDATE SET *: same-named source columns; columns the
                # source doesn't carry keep their target values
                assign = {
                    c: F.col(f"s.{c}") for c in tcols if c in set(source.columns)
                }
            else:
                assign = {
                    c: (F.expr(e) if isinstance(e, str) else e)
                    for c, e in update.items()
                }
                unknown = set(assign) - set(tcols)
                if unknown:
                    raise ValueError(f"unknown update columns: {sorted(unknown)}")
            updated = j.filter(upd_take).select(
                *[assign.get(c, F.col(f"t.{c}")).alias(c) for c in tcols]
            )
        else:
            updated = None
        if insert:
            # INSERT (cols) VALUES (...) shape: explicit expressions win,
            # then same-named source columns, then typed NULL (ANSI MERGE
            # inserts NULL for unnamed columns)
            ivals = {
                c: (F.expr(e) if isinstance(e, str) else e)
                for c, e in (insert_values or {}).items()
            }
            unknown = set(ivals) - set(tcols)
            if unknown:
                raise ValueError(f"unknown insert columns: {sorted(unknown)}")
            scols = set(source.columns)
            ttypes = {f.name: f.dataType for f in table_schema.fields}
            ins = (
                source.alias("s")
                .join(tgt.select(*key_cols).alias("t"), key_cond, "left_anti")
                .filter(_cond(insert_condition))
                .select(
                    *[
                        ivals.get(
                            c,
                            F.col(f"s.{c}")
                            if c in scols
                            else F.lit(None).cast(ttypes[c]),
                        ).alias(c)
                        for c in tcols
                    ]
                )
            )
        else:
            ins = None
        new_rows = updated
        if ins is not None:
            new_rows = ins if new_rows is None else new_rows.unionByName(ins)
        new_rows = (
            # O(changed rows); checkpointed so the update/insert joins run
            # once instead of once for the no-op probe and again for the
            # data-file write
            self._align_df_to_schema(new_rows, table_schema).localCheckpoint(
                eager=True
            )
            if new_rows is not None
            else None
        )
        n_touched = coords.limit(1).count()
        n_new = new_rows.limit(1).count() if new_rows is not None else 0
        if not n_touched and not n_new:
            return None
        base_summary = {"operation_detail": f"merge_into {mode}", **(summary or {})}
        if mode == "copy-on-write":
            kept = tgt.join(
                coords,
                (F.col("__file") == F.col("file_path"))
                & (F.col("__pos") == F.col("pos")),
                "left_anti",
            ).drop("__file", "__pos")
            out_df = kept if new_rows is None else kept.unionByName(new_rows)
            _, files = self._write_data_files(out_df, list(snap.partition_spec))
            return self._publish(
                "overwrite", files, table_schema.json(), replace_manifest=True,
                summary=base_summary,
                require_parent_snapshot_id=snap.snapshot_id,
            )
        new_deletes: list[str] = []
        if n_touched:
            new_deletes, _ = self._write_delete_files(
                coords, f"snap-{uuid.uuid4().hex[:12]}-deletes"
            )
        files = (
            self._write_data_files(
                new_rows, list(snap.partition_spec), field_ids=snap.field_ids
            )[1]
            if new_rows is not None and n_new
            else []
        )
        # insert-only outcome is genuinely append-only: publishing it as
        # 'append' keeps incremental CDC readers on their fast path
        op = "merge" if new_deletes else "append"
        return self._publish(
            op, files, table_schema.json(),
            summary=base_summary,
            add_delete_files=new_deletes or None, inherit_schema=True,
            require_parent_snapshot_id=require_parent_snapshot_id,
        )

    def delete_where(
        self, condition, *, mode: str = "copy-on-write"
    ) -> Snapshot | None:
        """Row-level DELETE (Iceberg ``DELETE FROM ... WHERE`` parity).

        ``mode="copy-on-write"`` (default): keep only rows NOT matching
        ``condition`` (a Column or SQL string) and commit an
        ``overwrite`` snapshot — the whole table rewrites.

        ``mode="merge-on-read"``: Iceberg v2 positional deletes. The
        matching rows' (file, position) coordinates — from the hidden
        ``_metadata`` column — are written to a small delete file and the
        commit is metadata + O(deleted rows) IO, never a table rewrite:
        deleting 0.1% of 100 TB costs MBs, not 100 TB. Scans anti-join
        pending delete files; :meth:`compact` materializes them and
        clears the list. A condition matching ZERO rows publishes
        nothing and returns None (like :meth:`delete_rows`) — a no-op
        must not break append-only CDC ranges with an empty 'delete'
        snapshot. Incremental CDC treats a merge-on-read delete like an
        overwrite (the diff is no longer append-only)."""
        if not self.exists():
            raise NoSuchTableError(self.path)
        cond = F.expr(condition) if isinstance(condition, str) else condition
        snap = self.current_snapshot()
        if mode == "copy-on-write":
            kept = self._scan_snapshot(snap).where(~cond)
            _, files = self._write_data_files(kept, list(snap.partition_spec))
            return self._publish(
                "overwrite", files, snap.schema_json, replace_manifest=True,
                summary={"operation_detail": "delete"},
                require_parent_snapshot_id=snap.snapshot_id,
            )
        if mode != "merge-on-read":
            raise ValueError(f"unknown delete mode: {mode}")
        # existing pending deletes apply first, so re-matching an
        # already-deleted row cannot double-record its position
        matches = self._scan_snapshot(snap, with_pos=True).where(cond)
        return self._publish_positional_deletes(matches, allow_empty=False)

    def update_where(
        self, condition, assignments: dict, *, mode: str = "copy-on-write"
    ) -> Snapshot | None:
        """Row-level UPDATE (Iceberg ``UPDATE ... SET ... WHERE`` parity).
        ``assignments`` maps column name -> new value (a Column, SQL
        expression string, or literal); every assignment casts to the
        column's declared type so the table schema never drifts.

        ``mode="copy-on-write"`` (default): one conditional projection
        over the table (``WHEN cond THEN expr ELSE col``) rewrites every
        file — simple, and the shape Iceberg prunes to touched files.

        ``mode="merge-on-read"``: the matched rows' coordinates go to a
        positional delete file and the UPDATED versions append — ONE
        'merge' snapshot, O(changed rows) IO, exactly the upsert path
        :meth:`merge` uses. Updating 0.1% of a 100 TB table costs MBs.
        Returns None when nothing matches (a no-op must not break
        append-only CDC ranges). Assignments may move rows across
        partitions — the appended files land under their new partition
        values like any write."""
        if not self.exists():
            raise NoSuchTableError(self.path)
        if not assignments:
            raise ValueError("update_where requires at least one assignment")
        snap = self.current_snapshot()
        table_schema = StructType.fromJson(json.loads(snap.schema_json))
        types = {f.name: f.dataType for f in table_schema.fields}
        bad = [c for c in assignments if c not in types]
        if bad:
            raise ValueError(f"no such columns: {bad}")
        cond = F.expr(condition) if isinstance(condition, str) else condition

        def _as_expr(c, v):
            from pyspark.sql import Column as _Col

            e = F.expr(v) if isinstance(v, str) else (
                v if isinstance(v, _Col) else F.lit(v)
            )
            return e.cast(types[c])

        exprs = {c: _as_expr(c, v) for c, v in assignments.items()}
        if mode == "copy-on-write":
            updated = self._scan_snapshot(snap).select(
                *[
                    F.when(cond, exprs[f.name]).otherwise(F.col(f.name)).alias(f.name)
                    if f.name in exprs
                    else F.col(f.name)
                    for f in table_schema.fields
                ]
            )
            _, files = self._write_data_files(updated, list(snap.partition_spec))
            return self._publish(
                "overwrite", files, table_schema.json(), replace_manifest=True,
                summary={"operation_detail": "update"},
                require_parent_snapshot_id=snap.snapshot_id,
            )
        if mode != "merge-on-read":
            raise ValueError(f"unknown update mode: {mode}")
        import shutil as _shutil

        # The matched scan feeds two writes (coordinates, updated rows).
        # NOT localCheckpoint-ed: "O(matched rows)" is not
        # delta-bounded here — a broad predicate matches a
        # table-sized frame, and an eager checkpoint would pin it to
        # executor-local disk (lost on executor failure, no eviction).
        # A plain persist() is the bounded escape hatch: it spills to
        # disk, is evictable under memory pressure, and stays
        # recomputable from lineage; released before return.
        matched = self._scan_snapshot(snap, with_pos=True).where(cond).persist()
        try:
            commit_dir = f"snap-{uuid.uuid4().hex[:12]}-deletes"
            new_deletes, n = self._write_delete_files(
                matched.select(
                    F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
                ).distinct(),
                commit_dir,
            )
            # no-op check from the already-written footers (no extra Spark
            # job): publish nothing when the condition matched zero rows
            if not n:
                _shutil.rmtree(
                    os.path.join(self.data_dir, commit_dir), ignore_errors=True
                )
                return None
            updated_rows = matched.select(
                *[
                    exprs[f.name].alias(f.name) if f.name in exprs else F.col(f.name)
                    for f in table_schema.fields
                ]
            )
            _, files = self._write_data_files(
                updated_rows, list(snap.partition_spec), field_ids=snap.field_ids
            )
            return self._publish(
                "merge", files, table_schema.json(),
                summary={"operation_detail": "update merge-on-read"},
                add_delete_files=new_deletes, inherit_schema=True,
            )
        finally:
            matched.unpersist()

    def delete_rows(
        self, keys: DataFrame, key_cols: list[str], *, mode: str = "merge-on-read",
        require_parent_snapshot_id: int | None = None,
    ) -> Snapshot | None:
        """Row-level DELETE by a KEY SET (a DataFrame of key columns)
        instead of a predicate — the shape a dedup/maintenance pass
        produces (its loser list is a DataFrame, and collecting it to the
        driver for an isin() predicate would not scale). Semi-joins the
        keys against the table and deletes the matches; merge-on-read by
        default (O(matched rows) IO). Returns None if nothing matched.

        ``mode="equality"`` writes an Iceberg-v2-style EQUALITY delete
        file instead: the distinct key VALUES land in a small parquet,
        the commit is O(keys) with NO table read at all, and scans
        anti-join rows equal on those fields from files committed
        strictly before it (null-safe; a later re-insert of the key
        survives — the sequence rule). The cheapest delete commit there
        is — the key-addressed CDC-apply fast path. Costs move to read
        time until :meth:`compact` materializes."""
        if not self.exists():
            raise NoSuchTableError(self.path)
        if not key_cols:
            raise ValueError("delete_rows requires at least one key column")
        snap = self.current_snapshot()
        if mode == "equality":
            missing = [c for c in key_cols if c not in snap.field_ids]
            if missing:
                raise ValueError(f"no such columns: {missing}")
            fids = [int(snap.field_ids[c]) for c in key_cols]
            kdf = keys.select(
                *[
                    F.col(c).alias(f"__eq_{snap.field_ids[c]}")
                    for c in key_cols
                ]
            ).distinct()
            commit_dir = f"snap-{uuid.uuid4().hex[:12]}-eqdeletes"
            paths, n = self._write_delete_files(kdf, commit_dir)
            if n == 0:
                import shutil as _shutil

                _shutil.rmtree(
                    os.path.join(self.data_dir, commit_dir), ignore_errors=True
                )
                return None
            return self._publish(
                "delete", [], self.schema().json(),
                summary={"operation_detail": f"delete equality keys={key_cols}"},
                add_eq_delete_files=[(paths, fids)],
                inherit_schema=True,
                require_parent_snapshot_id=require_parent_snapshot_id,
            )
        if mode == "copy-on-write":
            kept = self._scan_snapshot(snap).join(
                keys.select(*key_cols).distinct(), on=key_cols, how="left_anti"
            )
            _, files = self._write_data_files(kept, list(snap.partition_spec))
            return self._publish(
                "overwrite", files, snap.schema_json, replace_manifest=True,
                summary={"operation_detail": "delete_rows"},
                require_parent_snapshot_id=snap.snapshot_id,
            )
        if mode != "merge-on-read":
            raise ValueError(f"unknown delete mode: {mode}")
        matches = self._scan_snapshot(snap, with_pos=True).join(
            keys.select(*key_cols).distinct(), on=key_cols, how="left_semi"
        )
        return self._publish_positional_deletes(matches, allow_empty=False)

    def _write_delete_files(
        self, df: DataFrame, commit_dir: str
    ) -> tuple[list[str], int]:
        """Write ``df`` (positional delete coordinates or equality-delete
        key values) to the fresh commit dir ``data/<commit_dir>``. Returns
        its parquet files as table-relative paths and their row count,
        summed from the footers (no Spark job), so a caller can publish
        nothing when nothing matched."""
        import pyarrow.parquet as _pq

        out = os.path.join(self.data_dir, commit_dir)
        df.write.mode("error").parquet(out)
        paths = sorted(
            os.path.join("data", commit_dir, f)
            for f in os.listdir(out)
            if f.endswith(".parquet")
        )
        rows = sum(
            _pq.read_metadata(os.path.join(self.path, p)).num_rows for p in paths
        )
        return paths, rows

    def _publish_positional_deletes(
        self, matches: DataFrame, *, allow_empty: bool = True
    ) -> Snapshot | None:
        """Write the (file, pos) coordinates of ``matches`` (rows carrying
        the __file/__pos position columns) as a positional delete file and
        publish a ``delete`` snapshot. With ``allow_empty=False`` an empty
        match set publishes nothing and returns None."""
        coords = matches.select(
            F.col("__file").alias("file_path"), F.col("__pos").alias("pos")
        ).distinct()
        commit_dir = f"snap-{uuid.uuid4().hex[:12]}-deletes"
        new_deletes, n = self._write_delete_files(coords, commit_dir)
        if not allow_empty and n == 0:
            import shutil as _shutil

            _shutil.rmtree(
                os.path.join(self.data_dir, commit_dir), ignore_errors=True
            )
            return None
        return self._publish(
            "delete", [], self.schema().json(),
            summary={"operation_detail": "delete merge-on-read"},
            add_delete_files=new_deletes, inherit_schema=True,
        )

    def export_iceberg(self, dest: str, *, avro_codec: str = "null") -> str:
        """Export this table's main-branch history as an Apache Iceberg
        v2 metadata tree at ``dest`` (spec-conformant metadata.json +
        Avro manifests; data files hard-link). The cross-engine interop
        direction the reference gets from PyIceberg (icerunner.py:60-103)
        — see :mod:`icerunner_spark.iceberg_export` for fidelity notes.
        ``avro_codec``: ``null`` or ``deflate`` (Java Iceberg's default
        wire compression). Returns the metadata.json path."""
        from icerunner_spark.iceberg_export import export_iceberg

        return export_iceberg(self, dest, avro_codec=avro_codec)

    def rollback_to(self, snapshot_id: int) -> Snapshot:
        """Restore an ancestor snapshot's exact state as a NEW commit
        (Iceberg ``rollback_to_snapshot``): manifest, schema, field ids,
        pending deletes, stats, and partition layout all copy from the
        target — metadata only, no data file moves — while history stays
        append-only, so the rolled-back commits remain time-travelable
        until expiry. Incremental CDC treats the rollback like an
        overwrite (rows were removed; the diff is not append-only).
        ``next_field_id`` takes the max of target and current so a column
        added after the target and re-added after the rollback can never
        reuse a retired id (resurrection-proof, same rule as drop/re-add)."""
        target = self.snapshot_by_id(snapshot_id)
        for _ in range(20):
            parent = self.current_snapshot()
            if parent is None:
                raise NoSuchTableError(self.path)
            if parent.snapshot_id == target.snapshot_id:
                return parent
            seq = parent.sequence + 1
            snap = Snapshot(
                snapshot_id=_new_snapshot_id(),
                sequence=seq,
                parent_id=parent.snapshot_id,
                timestamp_ms=int(time.time() * 1000),
                operation="rollback",
                added_files=[],
                manifest=list(target.manifest),
                schema_json=target.schema_json,
                summary={"operation_detail": f"rollback_to {snapshot_id}"},
                field_ids=dict(target.field_ids),
                next_field_id=max(target.next_field_id, parent.next_field_id),
                partition_spec=list(target.partition_spec),
                delete_files=list(target.delete_files),
                eq_delete_files=[list(e) for e in target.eq_delete_files],
                layouts=dict(target.layouts),
                file_stats=dict(target.file_stats),
                # restore the ancestor's properties with its state (a
                # rollback undoes config changes too)
                properties=dict(target.properties),
                field_defaults=dict(target.field_defaults),
                # row-id counter never rewinds: ids minted after the
                # target stay retired even though their files drop out
                next_row_id=(
                    max(
                        target.next_row_id or 0,
                        parent.next_row_id or 0,
                    )
                    if (target.next_row_id is not None
                        or parent.next_row_id is not None)
                    else None
                ),
            )
            payload = self._slim_snapshot_text(snap, parent)
            try:
                with open(self._snapshot_path(seq), "x") as f:
                    f.write(payload)
            except FileExistsError:
                continue  # lost the race; recompute against new current
            tmp = os.path.join(self.metadata_dir, f".current.{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                f.write(str(seq))
            os.replace(tmp, os.path.join(self.metadata_dir, "current"))
            return snap
        raise CommitConflict(f"gave up after 20 retries: {self.path}")

    # ---------- named refs (Iceberg tag parity) ----------

    def _ref_path(self, name: str) -> str:
        import re

        if not re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.\-]*", name or ""):
            raise ValueError(f"invalid ref name: {name!r}")
        return os.path.join(self.metadata_dir, f"ref-{name}.json")

    def create_tag(self, name: str, snapshot_id: int | None = None) -> None:
        """Immutable named ref to a snapshot (Iceberg `ALTER TABLE ...
        CREATE TAG` parity): pins the snapshot for `scan(tag=...)` and
        protects it (and its files) from expire_snapshots. O_EXCL create
        — tags cannot be silently retargeted; drop and recreate."""
        snap = self._resolve_snapshot(snapshot_id)
        with open(self._ref_path(name), "x") as f:
            f.write(
                json.dumps(
                    {
                        "snapshot_id": snap.snapshot_id,
                        "created_ms": int(time.time() * 1000),
                    }
                )
            )

    def drop_tag(self, name: str) -> None:
        try:
            os.remove(self._ref_path(name))
        except FileNotFoundError:
            raise ValueError(f"no such tag: {name}") from None

    def tags(self) -> dict:
        """{tag name: snapshot_id}."""
        if not os.path.isdir(self.metadata_dir):
            return {}
        out = {}
        for f in os.listdir(self.metadata_dir):
            if f.startswith("ref-") and f.endswith(".json"):
                with open(os.path.join(self.metadata_dir, f)) as fh:
                    out[f[len("ref-") : -len(".json")]] = json.load(fh)[
                        "snapshot_id"
                    ]
        return out

    # ---------- branches (Iceberg branch refs / write-audit-publish) ----------
    #
    # A branch is an independently-advancing metadata sub-log at
    # ``metadata/branches/<name>/`` that SHARES the table's data dir:
    # forking writes a slim copy of the head snapshot and hard-links its
    # manifest segments into the branch log (zero data IO; fast-forward
    # links them back the same way), branch commits CAS against the branch's
    # own ``current`` pointer, and ``fast_forward`` publishes the branch
    # chain back onto main by claiming main's next sequence slots —
    # atomic via the same open("x") CAS as every commit, so a concurrent
    # main writer turns the publish into a CommitConflict instead of a
    # lost update. This is Iceberg's branch/WAP (write-audit-publish)
    # workflow: stage writes on a branch, audit them with full scans,
    # publish atomically or drop the branch without a trace.

    def _branches_root(self) -> str:
        return os.path.join(self.path, "metadata", "branches")

    def _require_main(self, op: str) -> None:
        if self.branch_name is not None:
            raise ValueError(f"{op} must run on the main table, not a branch")

    def create_branch(
        self, name: str, snapshot_id: int | None = None
    ) -> "IceTable":
        """Fork a writable branch at the current (or given) snapshot and
        return its handle. The fork is metadata-only: the branch log
        starts with a slim copy of the fork snapshot that shares its
        manifest segments (:meth:`_copied_snapshot_text`)."""
        self._require_main("create_branch")
        if not name or not name.replace("-", "_").isidentifier():
            raise ValueError(f"invalid branch name: {name!r}")
        snap = self._resolve_snapshot(snapshot_id)
        bdir = os.path.join(self._branches_root(), name)
        if os.path.isdir(bdir):
            raise ValueError(f"branch already exists: {name}")
        os.makedirs(bdir)
        fork = IceTable(self.spark, self.path)
        fork.metadata_dir = bdir
        with open(os.path.join(bdir, f"snap-{snap.sequence}.json"), "x") as f:
            f.write(fork._copied_snapshot_text(snap, self.metadata_dir))
        with open(os.path.join(bdir, "current"), "w") as f:
            f.write(str(snap.sequence))
        return self.branch(name)

    def branch(self, name: str) -> "IceTable":
        """Handle whose commits advance the branch's own log. Reads and
        writes (append/merge/delete/compact/scan/CDC) all work; GC and
        branch management stay main-only."""
        self._require_main("branch")
        bdir = os.path.join(self._branches_root(), name)
        if not os.path.isfile(os.path.join(bdir, "current")):
            raise ValueError(f"no such branch: {name}")
        b = IceTable(self.spark, self.path)
        b.metadata_dir = bdir
        b.branch_name = name
        return b

    def branches(self) -> dict:
        """{branch name: head snapshot_id}."""
        root = self._branches_root()
        if not os.path.isdir(root):
            return {}
        out = {}
        for name in os.listdir(root):
            cur = os.path.join(root, name, "current")
            try:
                with open(cur) as f:
                    seq = int(f.read().strip())
                with open(os.path.join(root, name, f"snap-{seq}.json")) as f:
                    out[name] = _load_snapshot_payload(
                        f.read(), os.path.join(root, name)
                    ).snapshot_id
            except (OSError, ValueError):
                continue
        return out

    def drop_branch(self, name: str) -> None:
        """Delete the branch log. Data files only the branch referenced
        become orphans (reaped by remove_orphans after the age guard)."""
        self._require_main("drop_branch")
        import shutil as _shutil

        bdir = os.path.join(self._branches_root(), name)
        if not os.path.isdir(bdir):
            raise ValueError(f"no such branch: {name}")
        _shutil.rmtree(bdir)

    def fast_forward(self, name: str) -> Snapshot:
        """Publish a branch onto main (Iceberg ``fast_forward``): requires
        main's head to be an ancestor of the branch head (no divergence —
        the WAP contract), then claims main's next sequence slots with the
        branch's snapshots, commit by commit, via the same CAS every
        publish uses. Snapshot ids, parent links, and per-snapshot
        added_files carry over verbatim, so time travel and CDC walk
        straight through the published commits."""
        self._require_main("fast_forward")
        b = self.branch(name)
        head = self.current_snapshot()
        if head is None:
            raise NoSuchTableError(self.path)
        pending: list[Snapshot] = []
        for s in b._walk_history():
            if s.snapshot_id == head.snapshot_id:
                break
            pending.append(s)
        else:
            raise CommitConflict(
                f"main advanced past branch {name!r}'s fork point; "
                "fast-forward requires main to be an ancestor of the branch"
            )
        pending.reverse()
        if not pending:
            return head
        # every payload (and its linked segments) is ready before the
        # first slot is claimed: a claim can then only lose a race
        payloads = [
            (self._snapshot_path(s.sequence),
             self._copied_snapshot_text(s, b.metadata_dir))
            for s in pending
        ]
        claimed: list[str] = []
        try:
            for dst, payload in payloads:
                with open(dst, "x") as f:
                    f.write(payload)
                claimed.append(dst)
        except FileExistsError:
            for p in claimed:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    pass
            raise CommitConflict(
                f"concurrent commit on main while fast-forwarding {name!r}"
            ) from None
        tmp = os.path.join(self.metadata_dir, f".current.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            f.write(str(pending[-1].sequence))
        os.replace(tmp, os.path.join(self.metadata_dir, "current"))
        return pending[-1]

    def _branch_referenced_files(self) -> set[str]:
        """Every data/delete file any branch snapshot references — the
        set main-side GC must not reap."""
        root = self._branches_root()
        out: set[str] = set()
        if not os.path.isdir(root):
            return out
        for name in os.listdir(root):
            bdir = os.path.join(root, name)
            for f in os.listdir(bdir):
                if not (f.startswith("snap-") and f.endswith(".json")):
                    continue
                try:
                    with open(os.path.join(bdir, f)) as fh:
                        s = _load_snapshot_payload(fh.read(), bdir)
                except (OSError, ValueError, KeyError):
                    continue
                out |= s.referenced_files()
        return out

    # ---------- maintenance (Iceberg: expire_snapshots / remove_orphan_files) ----------

    def _zorder_cluster(
        self, df: DataFrame, cols: list[str], n_files: int, *, bits: int = 8
    ) -> DataFrame:
        """Cluster ``df`` on the Morton (z-order) curve of ``cols``: each
        column maps to a ``bits``-bit bucket code (uniform width_bucket
        between its min/max — one aggregate job for all columns), the
        codes' bits interleave into one long, and the rewrite
        range-partitions + sorts on it. Rows close in EVERY dimension land
        in the same files, so the manifest bounds stay selective for
        predicates on any z-ordered column. All JVM-side expressions —
        the interleave is a static tree of shift/and/or over ``bits × k``
        terms, inside whole-stage codegen."""
        types = {f.name: f.dataType for f in df.schema.fields}
        bad = [
            c
            for c in cols
            if types[c].typeName()
            not in ("integer", "long", "short", "byte", "float", "double",
                    "decimal", "date", "timestamp", "timestamp_ntz")
        ]
        if bad:
            raise ValueError(f"zorder needs numeric/temporal columns: {bad}")

        def _num(c):
            t = types[c].typeName()
            if t in ("date", "timestamp", "timestamp_ntz"):
                return F.col(c).cast("timestamp").cast("double")
            return F.col(c).cast("double")

        aggs = []
        for c in cols:
            aggs += [F.min(_num(c)).alias(f"lo_{c}"), F.max(_num(c)).alias(f"hi_{c}")]
        row = df.agg(*aggs).first()
        k = len(cols)
        n_buckets = 1 << bits
        z = F.lit(0).cast("long")
        for j, c in enumerate(cols):
            lo, hi = row[f"lo_{c}"], row[f"hi_{c}"]
            if lo is None or hi is None or not (hi > lo):
                continue  # constant/empty/null column adds no bits
            code = F.width_bucket(
                _num(c), F.lit(float(lo)), F.lit(float(hi)), F.lit(n_buckets)
            ) - F.lit(1)
            code = F.least(
                F.greatest(F.coalesce(code, F.lit(0)), F.lit(0)),
                F.lit(n_buckets - 1),
            ).cast("long")
            for b in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(code, b).bitwiseAND(F.lit(1)), b * k + j
                ).cast("long")
        return (
            df.withColumn("__zorder", z)
            .repartitionByRange(n_files, "__zorder")
            .sortWithinPartitions("__zorder")
            .drop("__zorder")
        )

    def compact(
        self,
        *,
        target_file_rows: int = 1_000_000,
        mode: str = "full",
        small_file_rows: int | None = None,
        sort_by: list[str] | None = None,
        zorder: list[str] | None = None,
    ) -> Snapshot | None:
        """Small-file compaction (Iceberg ``rewrite_data_files``):
        rewrite into right-sized files and commit a ``replace`` snapshot
        with identical rows. ``replace`` snapshots add no rows, so
        incremental reads (:meth:`scan_changes`, Flight get_changes)
        SKIP them instead of erroring — the same contract as Iceberg's
        incremental read over rewrite snapshots. Old files stay on disk
        for time travel until :meth:`expire_snapshots`. Raises
        :class:`CommitConflict` if another commit lands between the scan
        and the publish (the rewrite would silently undo it).

        ``mode="full"``: rewrite the whole table —
        ceil(rows/target_file_rows) files. O(table); fine for small
        tables, the wrong tool at 100 TB.

        ``mode="bin-pack"`` (Iceberg's bin-pack strategy): rewrite ONLY
        the dirty subset — data files referenced by pending
        merge-on-read delete files, plus files smaller than
        ``small_file_rows`` (default ``target_file_rows // 2``). Clean
        full-size files keep their exact manifest paths (zero IO);
        pending deletes are materialized into the rewrite and cleared.
        Cost is O(dirty bytes), which is what makes continuous
        maintenance (delete-heavy MOR workloads, streaming small-file
        ingest) affordable at scale. Returns None when nothing needs
        rewriting.

        ``sort_by=[cols]`` (Iceberg's sort strategy): range-partition the
        rewrite on the sort key and sort within each file, so the
        manifest's per-file min/max bounds become tight and DISJOINT —
        after which a selective scan on the sort key prunes to O(matching
        files) via manifest stats. This is what turns the stats machinery
        into an index: unsorted ingest gives every file ~full-range
        bounds (nothing prunes), one sorted compaction makes range scans
        surgical. ``zorder=[cols]`` (Iceberg's z-order strategy) instead
        clusters on interleaved bits of the columns' bucket codes, giving
        MULTI-dimensional locality — selective predicates on ANY of the
        z-ordered columns prune files, at the cost of looser per-column
        bounds than a dedicated single-key sort. Both apply to either
        mode; with a partition spec, clustering happens within each
        partition's rewrite."""
        if target_file_rows < 1:
            raise ValueError("target_file_rows must be >= 1")
        if sort_by and zorder:
            raise ValueError("pass sort_by or zorder, not both")
        snap = self.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.path)
        spec = list(snap.partition_spec)
        names = set(_schema_names(snap.schema_json))
        missing = [c for c in (sort_by or []) + (zorder or []) if c not in names]
        if missing:
            raise ValueError(f"sort columns not in schema: {missing}")

        def _cluster(df: DataFrame, n_files: int) -> DataFrame:
            if zorder:
                return self._zorder_cluster(df, zorder, n_files)
            if sort_by:
                if spec:
                    # within-partition clustering: co-locate each hive
                    # partition, then sort its files' rows
                    return df.repartition(
                        n_files, *_spec_sources(spec)
                    ).sortWithinPartitions(*sort_by)
                # global range partitioning -> files own DISJOINT ranges
                return df.repartitionByRange(
                    n_files, *sort_by
                ).sortWithinPartitions(*sort_by)
            return (
                df.repartition(n_files, *_spec_sources(spec))
                if spec
                else df.repartition(n_files)
            )

        def _rewrite(df: DataFrame) -> list[str]:
            n_files = max(1, -(-df.count() // target_file_rows))
            # co-locate each partition's rows before the partitioned write
            # so compaction yields right-sized files per partition, not
            # n_files x n_partitions splinters
            _, files = self._write_data_files(
                _cluster(df, n_files), spec, field_ids=snap.field_ids
            )
            return files

        # clustering rewrites stamp their layout into the snapshot
        # summary so the maintenance policy can tell how many files
        # landed SINCE the layout was last established
        cluster_summary = {}
        if sort_by or zorder:
            cluster_summary = {
                "cluster-strategy": "zorder" if zorder else "sort",
                "cluster-columns": ",".join(zorder or sort_by),
            }

        if mode == "full":
            files = _rewrite(self._scan_snapshot(snap))
            return self._publish(
                "replace", files, snap.schema_json, replace_manifest=True,
                summary={"compacted_to_files": str(len(files)),
                         **cluster_summary},
                require_parent_snapshot_id=snap.snapshot_id,
            )
        if mode != "bin-pack":
            raise ValueError(f"unknown compact mode: {mode}")
        import pyarrow.parquet as _pq

        small = target_file_rows // 2 if small_file_rows is None else small_file_rows
        deleted_refs = (
            self._delete_file_refs(snap.delete_files) if snap.delete_files else set()
        )
        # equality deletes apply to every file committed before their
        # sequence — all of those are dirty (the rewrite materializes the
        # deletes; the new files' sequence postdates them)
        eq_max = max((int(e[2]) for e in snap.eq_delete_files), default=None)
        dirty = [
            f
            for f in snap.manifest
            if f in deleted_refs
            or (
                eq_max is not None
                and snap.layout(_commit_dir_of(f)).seq < eq_max
            )
            or int(
                snap.file_stats.get(f, {}).get("__rows__")
                # legacy pre-stats dirs: one footer read as fallback
                or _pq.read_metadata(os.path.join(self.path, f)).num_rows
            )
            < small
        ]
        if not dirty and not snap.delete_files and not snap.eq_delete_files:
            return None
        clean = [f for f in snap.manifest if f not in set(dirty)]
        # read ONLY the dirty files; the pending deletes all reference
        # dirty files by construction (a referenced file is dirty), so
        # the delete-applied subset read materializes every one of them
        files = _rewrite(self._scan_snapshot(snap, files=dirty))
        return self._publish(
            "replace", files, snap.schema_json, replace_manifest=True,
            full_manifest=clean + files,
            summary={
                "compacted_to_files": str(len(files)),
                "rewritten_files": str(len(dirty)),
                "kept_files": str(len(clean)),
                **cluster_summary,
            },
            require_parent_snapshot_id=snap.snapshot_id,
        )

    def rewrite_position_deletes(
        self, *, target_file_rows: int = 2_000_000
    ) -> Snapshot | None:
        """Consolidate pending positional delete files (Iceberg's
        ``rewrite_position_delete_files`` procedure). A merge-on-read
        workload under continuous maintenance attaches one small delete
        file per pass; every scan then opens all of them and anti-joins
        possibly-duplicated coordinates. This rewrites the pending set
        into few files, distinct-deduped and RANGE-SORTED by
        (file_path, pos) — so each consolidated file covers a contiguous
        slice of data files and parquet row-group stats make the
        delete-side read of any one data file O(its coordinates).
        Metadata + O(pending delete rows) IO; data files are untouched
        (unlike :meth:`compact`, which rewrites them to materialize).

        Commits a 'replace' snapshot with the SAME manifest — no row
        delta, so CDC (scan_changes / scan_changelog / Flight
        get_changes) passes over it like a compaction. The parent is
        pinned: a delete/compact racing the consolidation raises
        :class:`CommitConflict` rather than losing its delete file or
        keeping coordinates into replaced data files. Returns None when
        fewer than two delete files are pending."""
        self._require_main("rewrite_position_deletes")
        snap = self.current_snapshot()
        if snap is None or len(snap.delete_files) <= 1:
            return None
        dels = (
            self.spark.read.schema("file_path string, pos long")
            .parquet(*[os.path.join(self.path, f) for f in snap.delete_files])
            .distinct()
        )
        n = dels.count()
        n_out = max(1, -(-n // max(1, int(target_file_rows))))
        new_deletes, _ = self._write_delete_files(
            dels.repartitionByRange(n_out, "file_path", "pos")
            .sortWithinPartitions("file_path", "pos"),
            f"snap-{uuid.uuid4().hex[:12]}-deletes",
        )
        return self._publish(
            "replace", [], snap.schema_json, inherit_schema=True,
            summary={
                "operation_detail": "rewrite_position_deletes",
                "consolidated_files": str(len(snap.delete_files)),
                "delete_rows": str(n),
            },
            set_delete_files=new_deletes,
            require_parent_snapshot_id=snap.snapshot_id,
        )

    def expire_snapshots(
        self, *, keep_last: int = 1, older_than_ms: int | None = None
    ) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshots and delete the
        data files no surviving snapshot references. Snapshots pinned by
        a tag SURVIVE regardless of age (Iceberg retention semantics:
        refs protect history) — drop the tag first to let them expire.
        Time travel to the expired snapshots is gone afterwards — the
        same contract as Iceberg's ``expire_snapshots``. Returns the
        deleted relative file paths. Pure driver-side metadata + unlink —
        never touches live data files (they are still in a kept
        manifest)."""
        self._require_main("expire_snapshots")
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        snaps = self.snapshots()
        if len(snaps) <= keep_last:
            return []
        tagged = set(self.tags().values())
        # age retention (Iceberg older_than): a snapshot expires only when
        # BOTH outside the keep_last window and older than the cutoff
        cutoff_ms = (
            None
            if older_than_ms is None
            else int(time.time() * 1000) - int(older_than_ms)
        )
        expired = [
            s
            for s in snaps[:-keep_last]
            if s.snapshot_id not in tagged
            and (cutoff_ms is None or s.timestamp_ms <= cutoff_ms)
        ]
        expired_ids = {s.snapshot_id for s in expired}
        kept = [s for s in snaps if s.snapshot_id not in expired_ids]
        # branch refs protect their files like tags protect snapshots
        keep_files: set[str] = self._branch_referenced_files()
        for s in kept:
            keep_files |= s.referenced_files()
        removed: list[str] = []
        for s in expired:
            for f in s.referenced_files():
                if f in keep_files or f in removed:
                    continue
                try:
                    os.remove(os.path.join(self.path, f))
                    removed.append(f)
                except FileNotFoundError:
                    pass
        for s in expired:
            try:
                os.remove(self._snapshot_path(s.sequence))
            except FileNotFoundError:
                pass
        self._gc_segments(kept)
        self._prune_empty_data_dirs()
        return sorted(removed)

    def _gc_segments(
        self, kept: list[Snapshot], *, min_age_s: float = 300.0
    ) -> None:
        """Reap manifest-segment files no kept snapshot references —
        expired history's segments plus orphans from lost commit races.
        The age guard keeps an in-flight publish's just-written segment
        safe (its snapshot file isn't visible to us yet)."""
        seg_dir = self._segments_dir()
        if not os.path.isdir(seg_dir):
            return
        referenced: set[str] = set()
        for s in kept:
            referenced.update(getattr(s, "_segments", []) or [])
        cutoff = time.time() - min_age_s
        for name in os.listdir(seg_dir):
            if name in referenced:
                continue
            p = os.path.join(seg_dir, name)
            try:
                if os.path.getmtime(p) <= cutoff:
                    os.remove(p)
            except OSError:
                pass

    def run_maintenance(self) -> dict:
        """Policy-driven maintenance pass (the one loop a 1000-table
        warehouse runs): each step fires only when its table property
        asks for it and its trigger condition holds, so calling this on
        a cadence keeps every table healthy without per-table tuning.
        Iceberg ships the pieces as manual procedures; the policy knobs
        here mirror its property names where they exist.

        Properties (all optional — absent means the step never fires):

        - ``maintenance.delete-files.max`` (int): consolidate pending
          positional delete files (:meth:`rewrite_position_deletes`)
          when more than this many are pending.
        - ``maintenance.small-file-rows`` (int): bin-pack compact
          (:meth:`compact` ``mode="bin-pack"``) when any data file is
          smaller than this many rows or any delete/eq-delete files are
          pending; ``maintenance.target-file-rows`` (int, default
          1_000_000) sizes the rewrite.
        - ``maintenance.ttl.column`` (timestamp or epoch-ms long column)
          + ``maintenance.ttl.max-age-ms`` (int): row-level retention —
          merge-on-read DELETE of rows older than the age. The trigger
          is pure planning metadata (:meth:`plan_files` on the cutoff:
          only files whose min bound proves expired rows CAN exist
          start a job), so the steady-state pass on a healthy table
          costs zero IO, and the delete itself is O(expired rows), not
          a rewrite.
        - ``maintenance.cluster.columns`` (comma list): re-establish a
          clustered layout (:meth:`compact` with ``sort_by=`` or, when
          ``maintenance.cluster.strategy`` = ``zorder``, ``zorder=``)
          once at least ``maintenance.cluster.min-new-files`` (default
          8) data files have landed since the last clustering rewrite
          with the same strategy+columns — so ingest churn degrades
          pruning only up to a bounded backlog, and the O(table)
          rewrite fires on backlog, not on cadence.
        - ``maintenance.expire.keep-last`` (int) and/or
          ``maintenance.expire.older-than-ms`` (int): expire snapshots
          (:meth:`expire_snapshots`; keep-last defaults to 1 when only
          the age knob is set).
        - ``maintenance.orphans.older-than-s`` (int): sweep orphan files
          (:meth:`remove_orphans`).

        Steps run cheapest-trigger-first and each commits independently;
        a :class:`CommitConflict` from a racing writer skips that step
        (reported) rather than failing the pass — the next cadence
        retries. Returns a report dict of what fired."""
        snap = self.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.path)
        props = snap.properties
        report: dict = {}

        def _int(key):
            v = props.get(key)
            return None if v is None else int(v)

        max_dels = _int("maintenance.delete-files.max")
        if max_dels is not None and len(snap.delete_files) > max_dels:
            try:
                out = self.rewrite_position_deletes()
                report["rewrite_position_deletes"] = (
                    {"from": len(snap.delete_files),
                     "to": len(out.delete_files)}
                    if out is not None else "no-op"
                )
            except CommitConflict as e:
                report["rewrite_position_deletes"] = f"conflict: {e}"

        small = _int("maintenance.small-file-rows")
        if small is not None:
            cur = self.current_snapshot()
            dirty = cur.pending_deletes or any(
                int((cur.file_stats.get(f) or {}).get("__rows__") or 0) < small
                for f in cur.manifest
                if (cur.file_stats.get(f) or {}).get("__rows__") is not None
            )
            if dirty:
                try:
                    out = self.compact(
                        mode="bin-pack",
                        small_file_rows=small,
                        target_file_rows=_int("maintenance.target-file-rows")
                        or 1_000_000,
                    )
                    report["compact_binpack"] = (
                        {"rewritten": out.summary.get("rewritten_files"),
                         "kept": out.summary.get("kept_files")}
                        if out is not None else "no-op"
                    )
                except CommitConflict as e:
                    report["compact_binpack"] = f"conflict: {e}"

        ttl_col = props.get("maintenance.ttl.column")
        ttl_ms = _int("maintenance.ttl.max-age-ms")
        if ttl_col and ttl_ms is not None:
            import datetime as _dt
            import time as _time

            names = {f.name: f.dataType for f in self.schema().fields}
            if ttl_col not in names:
                raise ValueError(f"maintenance.ttl.column not in schema: {ttl_col}")
            tname = names[ttl_col].typeName()
            cutoff_ms = int(_time.time() * 1000) - ttl_ms
            if tname in ("timestamp", "timestamp_ntz"):
                cutoff = _dt.datetime.fromtimestamp(
                    cutoff_ms / 1000, tz=_dt.timezone.utc
                ).replace(tzinfo=None)
            elif tname in ("long", "integer"):
                cutoff = cutoff_ms
            else:
                raise ValueError(
                    "maintenance.ttl.column must be a timestamp or "
                    f"epoch-ms integer column, got {tname}"
                )
            # metadata-only trigger: no file's bounds admit expired rows
            # -> nothing to do, no job starts
            if self.plan_files([(ttl_col, "<", cutoff)]):
                try:
                    out = self.delete_where(
                        F.col(ttl_col) < F.lit(cutoff), mode="merge-on-read"
                    )
                    report["ttl_delete"] = (
                        "no-op"
                        if out is None
                        else {"cutoff_ms": cutoff_ms,
                              "delete_files": len(out.delete_files)}
                    )
                except CommitConflict as e:
                    report["ttl_delete"] = f"conflict: {e}"

        ccols = props.get("maintenance.cluster.columns")
        if ccols:
            cols = [c.strip() for c in ccols.split(",") if c.strip()]
            strategy = props.get("maintenance.cluster.strategy", "sort")
            if strategy not in ("sort", "zorder"):
                raise ValueError(
                    f"maintenance.cluster.strategy must be sort|zorder, "
                    f"got {strategy!r}"
                )
            min_new = _int("maintenance.cluster.min-new-files") or 8
            # data files landed since the last clustering rewrite with
            # this exact layout (snapshot summaries are the ledger)
            backlog = 0
            for s in self._walk_history():
                if (
                    s.summary.get("cluster-strategy") == strategy
                    and s.summary.get("cluster-columns") == ",".join(cols)
                ):
                    break
                backlog += len(s.added_files)
            if backlog >= min_new:
                try:
                    out = self.compact(
                        target_file_rows=_int("maintenance.target-file-rows")
                        or 1_000_000,
                        **({"zorder": cols} if strategy == "zorder"
                           else {"sort_by": cols}),
                    )
                    report["compact_cluster"] = {
                        "strategy": strategy,
                        "columns": ",".join(cols),
                        "backlog_files": backlog,
                        "to_files": out.summary.get("compacted_to_files"),
                    }
                except CommitConflict as e:
                    report["compact_cluster"] = f"conflict: {e}"

        keep_last = _int("maintenance.expire.keep-last")
        older_ms = _int("maintenance.expire.older-than-ms")
        if keep_last is not None or older_ms is not None:
            expired = self.expire_snapshots(
                keep_last=keep_last if keep_last is not None else 1,
                older_than_ms=older_ms,
            )
            report["expire_snapshots"] = {"deleted_files": len(expired)}

        orphan_s = _int("maintenance.orphans.older-than-s")
        if orphan_s is not None:
            gone = self.remove_orphans(older_than_s=orphan_s)
            report["remove_orphans"] = {"deleted_files": len(gone)}
        return report

    def remove_orphans(self, *, older_than_s: float = 3600.0) -> list[str]:
        """Delete data files referenced by NO snapshot (e.g. staged
        appends whose upload died before publish). ``older_than_s``
        guards in-flight stages: files younger than it are kept, like
        Iceberg's remove_orphan_files timestamp cutoff. Returns the
        deleted relative paths."""
        self._require_main("remove_orphans")
        referenced: set[str] = self._branch_referenced_files()
        for s in self.snapshots():
            referenced |= s.referenced_files()
        cutoff = time.time() - older_than_s
        removed: list[str] = []
        for root, _dirs, files in os.walk(self.data_dir):
            for f in files:
                if not f.endswith(".parquet"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.relpath(full, self.path)
                if rel in referenced:
                    continue
                try:
                    if os.path.getmtime(full) <= cutoff:
                        os.remove(full)
                        removed.append(rel)
                except FileNotFoundError:
                    pass
        # orphan manifest segments (lost commit races) age out here too,
        # not only at expire time
        self._gc_segments(self.snapshots(), min_age_s=older_than_s)
        self._prune_empty_data_dirs()
        return sorted(removed)

    def _prune_empty_data_dirs(self, *, min_age_s: float = 3600.0) -> None:
        """Remove commit dirs that hold no parquet (only _SUCCESS markers).
        The age guard keeps in-progress writes safe: a Spark write dir
        briefly contains only _temporary entries before the parquet files
        land."""
        if not os.path.isdir(self.data_dir):
            return
        import shutil as _shutil

        cutoff = time.time() - min_age_s
        for entry in os.listdir(self.data_dir):
            d = os.path.join(self.data_dir, entry)
            if not os.path.isdir(d):
                continue
            names = os.listdir(d)
            if any(f.endswith(".parquet") for f in names):
                continue
            if any(f.startswith("_temporary") for f in names):
                continue
            try:
                if os.path.getmtime(d) <= cutoff:
                    _shutil.rmtree(d, ignore_errors=True)
            except FileNotFoundError:
                pass

    # ---------- public read API ----------

    def _read_files(
        self,
        files: list[str],
        snap: Snapshot,
        *,
        layouts: dict | None = None,
        with_pos: bool = False,
    ) -> DataFrame:
        """Read data files under ``snap``'s schema resolving columns BY
        FIELD ID: each file group's physical column names come from its
        commit dir's layout record, aliased back to the snapshot's
        logical names. ``layouts`` replaces the snapshot's records (a
        change read, whose files were added by several snapshots). Groups
        are keyed by the resolved physical-name tuple, so a table that
        never renamed anything stays ONE parquet scan (one relation, full
        pushdown); after a rename the plan is a union of one scan per
        distinct write-schema — bounded by the number of schema changes,
        not the number of files. Columns the mapping lacks (added after
        the file was written) read as typed NULLs; physical columns no
        logical field claims (dropped, or a retired id under a re-added
        name) are never selected — which is what makes
        add/drop/rename_column metadata-only and resurrection-proof."""
        schema = StructType.fromJson(json.loads(snap.schema_json))
        if not files:
            df = self.spark.createDataFrame([], schema)
            if with_pos:
                df = df.withColumn("__file", F.lit(None).cast("string")).withColumn(
                    "__pos", F.lit(None).cast("long")
                )
            return df
        from pyspark.sql.types import StructField

        field_ids = snap.field_ids
        layouts = snap.layouts if layouts is None else layouts
        fids = [str(field_ids.get(fld.name)) for fld in schema.fields]

        # Partitioned tables read per commit dir: partition columns live in
        # the hive-style paths, so each read needs that dir as basePath for
        # Spark to rebuild them (and to PRUNE them — filters on partition
        # columns become PartitionFilters over the listed files, zero IO
        # for excluded partitions). Unpartitioned tables group by resolved
        # physical layout instead, which collapses a never-renamed table to
        # ONE scan over all commits.
        groups: dict = {}
        group_of: dict = {}  # commit dir -> its group key
        for f in files:
            d = _commit_dir_of(f)
            g = group_of.get(d)
            if g is None:
                # spec evolution: each dir reads under the spec it was
                # WRITTEN with, not the snapshot's current one
                rec = _layout_of(layouts, d, snap.partition_spec)
                key = tuple(
                    rec.physical(fid, fld.name)
                    for fid, fld in zip(fids, schema.fields)
                )
                g = group_of[d] = (d if rec.spec else None, key)
            groups.setdefault(g, []).append(f)
        parts = []
        for (d, key), fs in groups.items():
            paths = [os.path.join(self.path, p) for p in fs]
            # Explicit schema: skips footer-merging inference and keeps the
            # scan plan stable; a physical column absent from a file reads
            # as NULL (how add_column stays metadata-only). Partition
            # columns keep their logical name in the read schema (renames
            # of partition columns are rejected) and resolve from the
            # directory path, not the file.
            read_schema = StructType(
                [
                    StructField(phys, fld.dataType, True)
                    for phys, fld in zip(key, schema.fields)
                    if phys is not None
                ]
            )
            reader = self.spark.read.schema(read_schema)
            if d is not None:
                reader = reader.option(
                    "basePath", os.path.join(self.data_dir, d)
                )
            df = reader.parquet(*paths)
            dfl = snap.field_defaults or {}

            def _absent(fld):
                # column added after this file was written: initial-
                # default when declared (v3 metadata-only backfill),
                # typed NULL otherwise
                v = dfl.get(str(field_ids.get(fld.name)))
                return F.lit(v).cast(fld.dataType).alias(fld.name)

            cols = [
                F.col(phys).alias(fld.name)
                if phys is not None
                else _absent(fld)
                for phys, fld in zip(key, schema.fields)
            ]
            if with_pos:
                # table-root-relative file path + row position from the
                # hidden _metadata column — the coordinates positional
                # delete files (merge-on-read) are keyed by. Relative so
                # a relocated warehouse keeps its delete files valid.
                import re as _re

                rel = F.regexp_replace(
                    F.regexp_replace(
                        F.col("_metadata.file_path"), "^file:/+", "/"
                    ),
                    "^" + _re.escape(self.path + os.sep),
                    "",
                )
                cols += [
                    rel.alias("__file"),
                    F.col("_metadata.row_index").alias("__pos"),
                ]
            parts.append(df.select(*cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _prune_files(
        self, snap: Snapshot, files: list[str], preds: list[tuple],
        report: dict | None = None,
    ) -> list[str]:
        """Manifest pruning: drop files whose recorded column bounds (or
        hive partition path values, or blooms) prove no row can satisfy
        the conjunction. Conservative — a file without bounds for a
        predicate column always survives. Pure driver-side metadata, no
        IO but bloom sidecars: each conjunct is evaluated once over the
        snapshot's columnar index (:class:`_PruneIndex`, built once per
        snapshot), its tiers in order — empty file, transform, identity
        partition (once per partition group), bloom (surviving files
        only), bounds (vectorized). ``report`` (optional dict) counts
        skipped files per tier — transform / partition / bloom / bounds,
        each file under the first (conjunct, tier) that drops it — the
        explain_scan observability surface."""
        if not preds:
            return list(files)
        idx = _prune_index(snap)
        loc = idx.locate(files)
        alive = np.ones(len(files), dtype=bool)

        def drop(mask, tier):
            mask = mask & alive
            n = int(np.count_nonzero(mask))
            if n:
                alive[mask] = False
                if report is not None:
                    report[tier] = report.get(tier, 0) + n

        rows = idx.rows[loc.pos]
        drop(rows == 0, "bounds")  # provably empty: no predicate can match a row
        for col, op, val in preds:
            dt = idx.types.get(col)
            rest = alive  # files the bloom and bounds tiers see
            if col in loc.sources:
                verdict = np.array(
                    [_partition_verdict(g, col, op, val, dt) for g in loc.groups],
                    dtype=np.int8,
                )[loc.gid]
                drop(verdict == _DROP_TRANSFORM, "transform")
                drop(verdict == _DROP_PARTITION, "partition")
                rest = verdict == _NEXT_TIER
            if dt is None:
                continue
            if op in ("=", "in"):
                drop(self._bloom_misses(
                    snap, idx, files, loc.pos, rest & alive, col, op, val, dt
                ), "bloom")
            st = idx.column(col)
            sel = rest & alive & st.has[loc.pos]
            nulls = st.nulls[loc.pos]
            if op == "is_null":
                drop(sel & (nulls == 0), "bounds")
                continue
            # all-null column: neither is_not_null nor any comparison can
            # match a row in this file
            drop(sel & (nulls >= 0) & (nulls == rows), "bounds")
            if op == "is_not_null":
                continue
            at = np.flatnonzero(sel & alive & st.valid[loc.pos])
            if not len(at):
                continue
            try:
                v = (
                    [_decode_bound(dt, _encode_bound(x) or x) for x in val]
                    if op == "in"
                    else _decode_bound(dt, _encode_bound(val) or val)
                )
            except (ValueError, TypeError):
                continue  # undecodable literal: the bounds cannot decide
            p = loc.pos[at]
            keep = _bounds_keep(
                st.lo[p], st.hi[p], st.nan[p], op, v,
                float_type=dt.typeName() in ("float", "double"),
            )
            miss = np.zeros(len(files), dtype=bool)
            miss[at[~keep]] = True
            drop(miss, "bounds")
        return [files[i] for i in np.flatnonzero(alive)]

    def _bloom_misses(
        self, snap: Snapshot, idx: _PruneIndex, files: list[str],
        pos: np.ndarray, cand: np.ndarray, col: str, op: str, val, dt,
    ) -> np.ndarray:
        """Mask of the ``cand`` files whose bloom on ``col``
        (write.bloom.columns) proves no row equals any ``=``/``in``
        literal: equality skipping where min/max can't help — unclustered
        high-cardinality keys whose bounds span every file. Only files
        in dirs with a bloom sidecar are visited. An entry hashed under
        another type (a widened column hashes differently) or a literal
        that cannot be hashed never prunes."""
        out = np.zeros(len(files), dtype=bool)
        at = np.flatnonzero(cand)
        if not len(at):
            return out
        dir_of, dirs = idx.dirs()
        ids = dir_of[pos[at]]
        sided = np.isin(ids, [
            k for k in np.unique(ids) if k >= 0 and self._load_bloom_sidecar(dirs[k])
        ])
        visit = [(i, dirs[k]) for i, k in zip(at[sided], ids[sided])]
        for i in at[ids < 0]:  # outside the index: place by path
            d = _commit_dir_of(files[i])
            if self._load_bloom_sidecar(d):
                visit.append((i, d))
        tname = dt.simpleString()
        hashes = None
        for i, d in visit:
            ent = self._bloom_entry(snap, d, files[i], col)
            if ent is None or ent["type"] != tname:
                continue
            if hashes is None:
                vals = val if op == "in" else [val]
                hashes = [None if v is None else _spark_xxhash64(v, dt) for v in vals]
                if any(h is None for h in hashes):
                    return out  # a NULL or unhashable literal: keep all
            if not any(
                _bloom_may_contain(ent["_bits"], ent["nbits"], ent["k"], h)
                for h in hashes
            ):
                out[i] = True
        return out

    def plan_files(
        self, where, snapshot_id: int | None = None
    ) -> list[str]:
        """The data files a ``scan(where=...)`` would actually read — the
        manifest filtered through per-file column bounds and partition
        paths. Exposed for planners/tests; ``len(plan_files(w)) <
        len(manifest)`` is the file-skipping win."""
        snap = self._resolve_snapshot(snapshot_id)
        preds = _normalize_predicates(where)
        return self._prune_files(snap, snap.manifest, preds)

    def explain_scan(
        self, where=None, snapshot_id: int | None = None
    ) -> dict:
        """Planning-time pruning report for ``scan(where=...)`` — the
        observability surface behind the file-skipping tiers (Iceberg's
        scan-metrics / Spark's numFiles, at METADATA cost before any
        reader exists). Returns::

            {"total_files": N, "read_files": K,
             "skipped": {"partition": a, "transform": b,
                         "bloom": c, "bounds": d},     # a+b+c+d == N-K
             "read_rows_max": R | None,   # footer-stat row bound, if known
             "total_rows": T | None}

        Tiers are attributed in evaluation order (cheapest first): a file
        skipped by both its partition value and its bounds counts under
        the first (conjunct, tier) that drops it. Pure driver-side, over
        the snapshot's columnar stats index (one vectorized pass per
        conjunct, see :meth:`_prune_files`) — use it to check a predicate
        prunes BEFORE paying for the scan, and to see which tier (layout,
        stats, blooms) is doing the work."""
        snap = self._resolve_snapshot(snapshot_id)
        preds = _normalize_predicates(where)
        skipped: dict = {}
        files = self._prune_files(snap, snap.manifest, preds, report=skipped)

        def _rows(fs):
            vals = [snap.file_stats.get(f, {}).get("__rows__") for f in fs]
            return None if any(v is None for v in vals) else sum(map(int, vals))

        return {
            "total_files": len(snap.manifest),
            "read_files": len(files),
            "skipped": skipped,
            "read_rows_max": _rows(files),
            "total_rows": _rows(snap.manifest),
        }

    # -- metadata-only aggregate pushdown ---------------------------- #

    def _file_rows(self, snap: Snapshot, rel: str) -> int:
        """Row count of one file: manifest ``__rows__`` stat when
        recorded, else a driver-side footer read (same cost class as
        files_df — metadata, never data)."""
        v = snap.file_stats.get(rel, {}).get("__rows__")
        if v is not None:
            return int(v)
        import pyarrow.parquet as _pq

        return _pq.read_metadata(os.path.join(self.path, rel)).num_rows

    def metadata_count(
        self, where=None, snapshot_id: int | None = None
    ) -> int | None:
        """``COUNT(*) [WHERE ...]`` answered from manifest metadata
        alone — Iceberg's count-star aggregate pushdown (what makes
        ``SELECT COUNT(*)`` on a 100 TB table a millisecond driver-side
        walk instead of a cluster job). Returns the EXACT count, or
        ``None`` when metadata cannot prove it, in which case the caller
        should fall back to ``scan(where=...).count()``.

        Unfiltered: sum of live data-file row counts minus pending
        positional-delete positions (each position is recorded at most
        once — delete_rows/delete_where consult prior delete files — so
        the subtraction is exact). Filtered: every surviving file after
        manifest pruning must PROVE all its rows match (bounds fully
        inside the predicate range and a zero null count, since SQL
        comparisons are false on NULL); one unprovable file → ``None``.
        Pending equality deletes always → ``None`` (their matched
        multiplicity is unknowable without reading data)."""
        snap = self._resolve_snapshot(snapshot_id)
        if snap.eq_delete_files:
            return None
        preds = _normalize_predicates(where)
        if preds and snap.delete_files:
            # deleted positions hit an unknown share of the matched set
            return None
        files = (
            self._prune_files(snap, list(snap.manifest), preds)
            if preds
            else list(snap.manifest)
        )
        schema = StructType.fromJson(json.loads(snap.schema_json))
        types = {f.name: f.dataType for f in schema.fields}
        total = 0
        for rel in files:
            per = snap.file_stats.get(rel, {})
            rows = self._file_rows(snap, rel)
            if rows == 0:
                continue
            # per predicate, the file must prove ALL rows match (count
            # them), or NO rows match (contribute zero) — anything in
            # between is unprovable and the whole count refuses
            contributes = True
            for col, op, val in preds:
                fid = str(snap.field_ids.get(col, ""))
                bounds = per.get(fid)
                if not bounds or col not in types:
                    return None
                nc = bounds[2] if len(bounds) > 2 else None
                if op == "is_null":
                    if nc is not None and nc == rows:
                        continue  # all rows NULL -> all match
                    if nc == 0:
                        contributes = False  # no NULLs -> no rows match
                        break
                    return None
                if op == "is_not_null":
                    if nc == 0:
                        continue
                    if nc is not None and nc == rows:
                        contributes = False  # all-NULL file
                        break
                    return None
                if nc is not None and nc == rows:
                    contributes = False  # comparisons are false on NULL
                    break
                if nc != 0:  # unknown or mixed NULLs
                    return None
                if bounds[0] is None or bounds[1] is None:
                    return None
                dt = types[col]
                try:
                    lo = _decode_bound(dt, bounds[0])
                    hi = _decode_bound(dt, bounds[1])
                    v = (
                        [_decode_bound(dt, _encode_bound(x) or x) for x in val]
                        if op in ("in", "not_in")
                        else _decode_bound(dt, _encode_bound(val) or val)
                    )
                except (ValueError, TypeError):
                    return None
                is_float = dt.typeName() in ("float", "double")
                if not _bounds_may_match(lo, hi, op, v, float_type=is_float):
                    contributes = False  # provably empty intersection
                    break
                if not _bounds_all_match(lo, hi, op, v, float_type=is_float):
                    return None
            if contributes:
                total += rows
        for rel in snap.delete_files:
            total -= self._file_rows(snap, rel)
        return total

    def metadata_min_max(
        self, col: str, snapshot_id: int | None = None
    ) -> tuple | None:
        """``(MIN(col), MAX(col))`` from manifest bounds, or ``None``
        when metadata cannot answer exactly: any pending row-level
        delete (the extreme row might be deleted), a string/binary
        column (footer stats may be width-truncated, so recorded bounds
        are containing, not achieved — fine for pruning, wrong as an
        answer), a float/double column (footer bounds exclude NaN rows
        while Spark's MAX treats NaN as greater than everything — a
        hidden NaN makes the metadata answer wrong), or any live file
        lacking bounds that isn't provably all-NULL/empty. NULLs are
        ignored, matching SQL MIN/MAX."""
        snap = self._resolve_snapshot(snapshot_id)
        if snap.pending_deletes:
            return None
        schema = StructType.fromJson(json.loads(snap.schema_json))
        types = {f.name: f.dataType for f in schema.fields}
        dt = types.get(col)
        if dt is None or dt.typeName() in ("string", "binary", "float", "double"):
            return None
        fid = str(snap.field_ids.get(col, ""))
        mn = mx = None
        for rel in snap.manifest:
            per = snap.file_stats.get(rel, {})
            rows = self._file_rows(snap, rel)
            if rows == 0:
                continue
            bounds = per.get(fid)
            nc = (bounds[2] if bounds and len(bounds) > 2 else None)
            if not bounds or bounds[0] is None or bounds[1] is None:
                if nc is not None and nc == rows:
                    continue  # all-NULL file contributes nothing
                return None
            try:
                lo = _decode_bound(dt, bounds[0])
                hi = _decode_bound(dt, bounds[1])
            except (ValueError, TypeError):
                return None
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
        return None if mn is None else (mn, mx)

    def scan(
        self,
        snapshot_id: int | None = None,
        *,
        tag: str | None = None,
        as_of_ms: int | None = None,
        where=None,
        with_lineage: bool = False,
    ) -> DataFrame:
        """Read the table at the current (or a given) snapshot, at a
        named tag (`VERSION AS OF 'tag'` parity), or as of a wall-clock
        timestamp (`TIMESTAMP AS OF` parity: the newest snapshot whose
        commit time is <= ``as_of_ms``). Returns a lazy DataFrame —
        filters/projections push into the parquet scan. Time travel
        reads with the SNAPSHOT's schema (Iceberg semantics: each
        snapshot pins its schema id), so a later add/drop_column doesn't
        rewrite history.

        ``where`` — a list of ``(column, op, value)`` conjuncts — prunes
        the FILE LIST against the manifest's per-file column bounds
        before the reader is built (Iceberg manifest pruning), then
        applies the same conjunction as a Catalyst filter so the result
        is exact. A selective predicate over a multi-commit table reads
        only the files whose bounds admit it — zero IO for the rest.

        ``with_lineage=True`` adds Iceberg v3 row-lineage columns
        ``_row_id`` / ``_last_updated_sequence`` derived from metadata
        (see :meth:`_with_lineage` for the stability contract)."""
        snap = self._resolve_snapshot(snapshot_id, tag=tag, as_of_ms=as_of_ms)
        return self._scan_at(snap, _normalize_predicates(where), with_lineage)

    def _scan_at(
        self, snap: Snapshot, preds: list[tuple], with_lineage: bool = False
    ) -> DataFrame:
        """Delete-applied read of one resolved snapshot: prune the
        manifest with the normalized conjuncts ``preds``, read it through
        :meth:`_scan_snapshot` (pending merge-on-read deletes applied),
        then filter the rows exactly with the same conjuncts."""
        files = (
            self._prune_files(snap, snap.manifest, preds) if preds else None
        )
        df = self._scan_snapshot(snap, files=files, with_pos=with_lineage)
        if preds:
            df = df.where(_predicates_to_column(preds))
        if with_lineage:
            df = self._with_lineage(df, snap, files)
        return df

    def _with_lineage(
        self, df: DataFrame, snap: Snapshot, files: list[str] | None
    ) -> DataFrame:
        """Decorate a positional scan with Iceberg v3 row-lineage
        columns, derived purely from metadata:

        - ``_row_id`` = the file's ``__first_row_id__`` block start + the
          row's position — stable across appends, merge-on-read
          delete/update/merge, equality deletes, delete consolidation
          and partition evolution, because none of those move a
          surviving row. Copy-on-write rewrites and compaction mint
          fresh ids (this engine does not materialize lineage columns
          into rewritten files); files from before lineage existed read
          NULL until rewritten.
        - ``_last_updated_sequence`` = the commit sequence of the file
          holding the row's current version (a merge-on-read update's
          new version lives in the merge commit's files, so it reports
          that sequence — Iceberg's semantics exactly).

        The id lookup is a broadcast join on O(#files) rows; the
        sequence lookup is an O(#dirs) literal map."""
        for c in ("_row_id", "_last_updated_sequence"):
            if c in df.columns:
                raise ValueError(
                    f"table schema already has a column named {c!r} — "
                    "reserved by row lineage"
                )
        flist = snap.manifest if files is None else files
        dirs = {_commit_dir_of(f) for f in flist}
        seq_map = F.create_map(
            *[
                x
                for d in sorted(dirs)
                for x in (F.lit(d), F.lit(snap.layout(d).seq))
            ]
        ) if dirs else F.create_map()
        out = (
            self._lineage_join(df, snap.file_stats, flist)
            .withColumn(
                "_last_updated_sequence",
                seq_map[F.regexp_extract(F.col("__file"), "^data/([^/]+)/", 1)],
            )
            .drop("__file", "__pos")
        )
        return out

    def _lineage_join(
        self, df: DataFrame, file_stats: dict, files
    ) -> DataFrame:
        """Attach ``_row_id`` (= the file's allocated block start + the
        row's ``__pos``) to a positional frame via a broadcast lookup
        bounded by ``files`` — never the whole manifest unless the read
        itself was. Files without an allocation (pre-lineage) yield
        NULL."""
        rows = [
            (f, int(file_stats[f]["__first_row_id__"]))
            for f in files
            if "__first_row_id__" in (file_stats.get(f) or {})
        ]
        lookup = self.spark.createDataFrame(
            rows or [], "__lin_file string, __lin_first long"
        )
        return (
            df.join(
                F.broadcast(lookup),
                F.col("__file") == F.col("__lin_file"),
                "left",
            )
            .withColumn("_row_id", F.col("__lin_first") + F.col("__pos"))
            .drop("__lin_file", "__lin_first")
        )

    def _scan_snapshot(
        self,
        snap: Snapshot,
        *,
        with_pos: bool = False,
        files: list[str] | None = None,
    ) -> DataFrame:
        """Snapshot read with merge-on-read delete application: when the
        snapshot carries positional delete files, rows are anti-joined
        away by (file, position) at read time — Iceberg v2 read
        semantics. The anti-join only exists while deletes are pending;
        compaction materializes them and restores the plain scan.
        ``files`` restricts the read to a subset of the manifest (file
        pruning, bin-pack compaction) — delete coordinates naming files
        outside the subset simply never match."""
        need_pos = with_pos or snap.pending_deletes
        df = self._read_files(
            snap.manifest if files is None else files, snap, with_pos=need_pos
        )
        if snap.delete_files:
            # rename to reserved names before joining: the DATA schema may
            # legitimately contain columns called file_path/pos, and bare
            # F.col references would then be ambiguous
            dels = (
                self.spark.read.schema("file_path string, pos long")
                .parquet(*[os.path.join(self.path, f) for f in snap.delete_files])
                .select(
                    F.col("file_path").alias("__del_file"),
                    F.col("pos").alias("__del_pos"),
                )
            )
            df = df.join(
                dels,
                (F.col("__file") == F.col("__del_file"))
                & (F.col("__pos") == F.col("__del_pos")),
                "left_anti",
            )
        if snap.eq_delete_files:
            df = self._apply_eq_deletes(df, snap)
        if need_pos and not with_pos:
            df = df.drop("__file", "__pos")
        return df

    def _apply_eq_deletes(self, df: DataFrame, snap: Snapshot) -> DataFrame:
        """Apply pending equality delete files (Iceberg v2 read
        semantics): each entry anti-joins rows NULL-SAFE-equal on its key
        fields, but only rows from data files committed STRICTLY BEFORE
        the delete (the sequence rule — a later re-insert of the same key
        survives). Key sets are small, so Catalyst broadcasts them; the
        commit-dir -> sequence lookup is a literal map over O(#dirs)."""
        from functools import reduce

        inv = {int(v): k for k, v in snap.field_ids.items()}
        dir_col = F.regexp_extract(F.col("__file"), "^data/([^/]+)/", 1)
        dirs = sorted({_commit_dir_of(f) for f in snap.manifest})
        seq_map = F.create_map(
            *[x for d in dirs for x in (F.lit(d), F.lit(snap.layout(d).seq))]
        )
        # a file outside data/<dir>/ has no commit dir the pattern can
        # name: it reads as the oldest, like a dir without a record
        df = df.withColumn("__dirseq", F.coalesce(seq_map[dir_col], F.lit(0)))
        for paths, fids, dseq in snap.eq_delete_files:
            names = [inv.get(int(f)) for f in fids]
            if any(n is None for n in names):
                raise ValueError(
                    f"equality delete references dropped field ids {fids}; "
                    "compact before dropping key columns"
                )
            keys = self.spark.read.parquet(
                *[os.path.join(self.path, p) for p in paths]
            )
            cond = reduce(
                lambda a, b: a & b,
                [
                    F.col(n).eqNullSafe(keys[f"__eq_{int(f)}"])
                    for n, f in zip(names, fids)
                ],
            ) & (F.col("__dirseq") < F.lit(int(dseq)))
            df = df.join(keys, cond, "left_anti")
        return df.drop("__dirseq")

    # ---------- schema evolution (Iceberg ALTER TABLE parity) ----------

    def add_column(
        self, name: str, dtype: str, *, default=None
    ) -> Snapshot:
        """Metadata-only ADD COLUMN (Iceberg `ALTER TABLE ... ADD COLUMN`):
        publishes an `alter` snapshot whose schema gains a nullable column;
        no data file is touched — existing files read the column as NULL,
        or as ``default`` when given (Iceberg v3 ``initial-default``: a
        metadata-only backfill — rows written BEFORE the column existed
        read the default, rows written after carry their own values).
        Later appends must supply it. `dtype` is a Spark DDL type string
        ("double", "array<string>", ...); scalar defaults only (JSON
        natives ride as-is, temporals/decimals as castable strings)."""
        from pyspark.sql.types import StructField, _parse_datatype_string

        schema = self.schema()
        if name in {f.name for f in schema.fields}:
            raise ValueError(f"column already exists: {name}")
        parsed_dt = _parse_datatype_string(dtype)
        new_schema = StructType(
            schema.fields + [StructField(name, parsed_dt, True)]
        )
        # added_files=[] + inherit manifest: an `alter` snapshot carries no
        # row delta, so incremental readers (scan_changes / Flight
        # get_changes) pass through it emitting nothing — same contract as
        # `replace`. The column gets a FRESH field id: if the same name was
        # dropped earlier, its retired id (and the bytes under it) stay
        # invisible — re-add never resurrects old data.
        if name in self._derived_pnames():
            raise ValueError(
                f"column name collides with a derived partition column: {name}"
            )
        enc = None
        if default is not None:
            enc = (
                default
                if isinstance(default, (int, float, str, bool))
                else str(default)
            )
            # eagerly evaluate the exact expression every scan will run
            # (F.lit(enc).cast(dtype)) — a non-castable default must be
            # rejected HERE, not surface later as an ANSI cast error (or
            # a silent NULL) on every read of a committed table
            try:
                probe = self.spark.range(1).select(
                    F.lit(enc).cast(dtype).alias("v")
                ).first()
            except Exception as e:
                raise ValueError(
                    f"default {default!r} is not castable to {dtype}: {e}"
                ) from None
            if probe["v"] is None:
                raise ValueError(
                    f"default {default!r} casts to NULL as {dtype}; "
                    "omit default= for a NULL-backfilled column"
                )
        def schema_evolve(parent_json: str) -> str:
            st = StructType.fromJson(json.loads(parent_json))
            if name in {f.name for f in st.fields}:
                raise ValueError(f"column already exists: {name}")
            return StructType(
                st.fields + [StructField(name, parsed_dt, True)]
            ).json()

        return self._publish(
            "alter", [], new_schema.json(),
            summary={"operation_detail": f"add_column {name} {dtype}"},
            evolve=lambda fids, nid: ({**fids, name: nid}, nid + 1),
            defaults_evolve=(
                None
                if enc is None
                else (lambda fids, dfl: {**dfl, str(fids[name]): enc})
            ),
            schema_evolve=schema_evolve,
        )

    def _live_specs(self) -> list[list]:
        """The current spec plus every live commit dir's write-time spec —
        the union evolution guards must respect (an old dir's hive paths
        are keyed by ITS spec's names even after update_partition_spec)."""
        snap = self.current_snapshot()
        if snap is None:
            return []
        return [list(snap.partition_spec or [])] + [
            snap.layout(d).spec for d in snap.layouts
        ]

    def _derived_pnames(self) -> set:
        """Hidden-partition column names any live spec derives — a user
        column may not take one of these names (the write path would
        silently overwrite it with transform values)."""
        out: set = set()
        for spec in self._live_specs():
            for sf in _parse_spec(spec):
                if sf.transform != "identity":
                    out.add(sf.pname)
        return out

    def update_partition_spec(self, new_spec: list) -> Snapshot:
        """Partition-spec EVOLUTION (Iceberg ``ALTER TABLE ... ADD/DROP
        PARTITION FIELD``): metadata-only — commits from here on write
        the new layout while every existing commit dir keeps reading,
        pruning, and CDC-ing under the spec it was written with (its
        layout record). No data file is touched; compaction gradually
        migrates old dirs to the current layout since its rewrites use
        the current spec. Validation matches :meth:`create`."""
        if not self.exists():
            raise NoSuchTableError(self.path)
        new_spec = list(new_spec or [])
        schema = self.schema()
        names = [f.name for f in schema.fields]
        types = {f.name: f.dataType for f in schema.fields}
        spec_fields = _parse_spec(new_spec)
        missing = [sf.source for sf in spec_fields if sf.source not in names]
        if missing:
            raise ValueError(f"partition columns not in schema: {missing}")
        bad = [
            sf
            for sf in spec_fields
            if not _transform_supported(sf, types[sf.source])
        ]
        if bad:
            raise ValueError(
                "partition transform not supported for column type: "
                + ", ".join(f"{sf.transform}({sf.source})" for sf in bad)
            )
        clash = [
            sf.pname
            for sf in spec_fields
            if sf.transform != "identity" and sf.pname in names
        ]
        if clash:
            raise ValueError(
                f"derived partition column name collides with schema: {clash}"
            )
        # inherit_schema: this commit changes only the SPEC — republishing
        # the schema it read would silently revert a concurrent
        # rename/widen (same class of race schema_evolve fixes)
        return self._publish(
            "alter", [], schema.json(), inherit_schema=True,
            summary={
                "operation_detail": f"update_partition_spec {new_spec}"
            },
            partition_spec=new_spec,
        )

    # widenings Iceberg permits (type promotion, spec v2): the NEW logical
    # type must read every OLD physical value exactly. Spark's parquet
    # reader upcasts all of these natively (verified by
    # tests/test_table.py::test_widen_column_metadata_only), so the alter
    # is pure metadata — historical files are never rewritten.
    _WIDEN_OK = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"),
        ("float", "double"),
    }

    def widen_column(self, name: str, new_type: str) -> Snapshot:
        """Metadata-only type promotion (Iceberg ``ALTER TABLE ... ALTER
        COLUMN ... TYPE``): int-family upcasts, float->double, and
        decimal precision growth (same scale). The field keeps its id;
        each snapshot pins its own schema, so time travel still reads
        history under the old type. Bucket-transform partition SOURCES
        refuse to widen: Spark's xxhash64 hashes int-backed and long
        types through different byte widths, so the same value would land
        in (and prune to) different buckets before and after — the one
        widening that silently breaks layout correctness."""
        from pyspark.sql.types import StructField, _parse_datatype_string

        schema = self.schema()
        fields = {f.name: f for f in schema.fields}
        if name not in fields:
            raise ValueError(f"no such column: {name}")
        old_dt = fields[name].dataType
        new_dt = _parse_datatype_string(new_type)
        ok = (old_dt.typeName(), new_dt.typeName()) in self._WIDEN_OK
        if old_dt.typeName() == "decimal" and new_dt.typeName() == "decimal":
            ok = (
                new_dt.scale == old_dt.scale
                and new_dt.precision >= old_dt.precision
            )
        if not ok:
            raise ValueError(
                f"cannot widen {name}: {old_dt.simpleString()} -> "
                f"{new_dt.simpleString()} is not a safe promotion"
            )
        for spec in self._live_specs():
            for sf in _parse_spec(spec):
                if sf.source == name and sf.transform == "bucket":
                    raise ValueError(
                        f"cannot widen bucket-partition source column: {name}"
                    )
        new_schema = StructType(
            [
                StructField(name, new_dt, f.nullable) if f.name == name else f
                for f in schema.fields
            ]
        )

        def schema_evolve(parent_json: str) -> str:
            # re-derived from the WINNING parent inside the retry loop;
            # re-validates the promotion there (a concurrent widen that
            # already promoted past new_dt makes this one a ValueError,
            # the documented surfaced-race outcome)
            st = StructType.fromJson(json.loads(parent_json))
            cur = {f.name: f for f in st.fields}
            if name not in cur:
                raise ValueError(f"no such column: {name}")
            cur_dt = cur[name].dataType
            ok2 = (cur_dt.typeName(), new_dt.typeName()) in self._WIDEN_OK
            if cur_dt.typeName() == "decimal" and new_dt.typeName() == "decimal":
                ok2 = (
                    new_dt.scale == cur_dt.scale
                    and new_dt.precision >= cur_dt.precision
                )
            if not ok2:
                raise ValueError(
                    f"cannot widen {name}: {cur_dt.simpleString()} -> "
                    f"{new_dt.simpleString()} is not a safe promotion"
                )
            return StructType(
                [
                    StructField(name, new_dt, f.nullable)
                    if f.name == name
                    else f
                    for f in st.fields
                ]
            ).json()

        return self._publish(
            "alter", [], new_schema.json(),
            summary={
                "operation_detail": (
                    f"widen_column {name} "
                    f"{old_dt.simpleString()} -> {new_dt.simpleString()}"
                )
            },
            schema_evolve=schema_evolve,
        )

    def drop_column(self, name: str) -> Snapshot:
        """Metadata-only DROP COLUMN: the schema loses the field and its
        field id retires; data files keep the bytes (never selected by the
        id-resolved read) until a compact/overwrite rewrites them."""
        schema = self.schema()
        if name not in {f.name for f in schema.fields}:
            raise ValueError(f"no such column: {name}")
        if len(schema.fields) == 1:
            raise ValueError("cannot drop the only column")
        if any(name in _spec_sources(s) for s in self._live_specs()):
            raise ValueError(f"cannot drop partition column: {name}")
        snap = self.current_snapshot()
        fid = int(snap.field_ids.get(name, -1))
        if any(fid in [int(x) for x in fids] for _p, fids, _s in snap.eq_delete_files):
            raise ValueError(
                f"column {name} is a key of a pending equality delete; "
                "compact() to materialize before dropping"
            )
        new_schema = StructType([f for f in schema.fields if f.name != name])

        def schema_evolve(parent_json: str) -> str:
            st = StructType.fromJson(json.loads(parent_json))
            if name not in {f.name for f in st.fields}:
                raise ValueError(f"no such column: {name}")
            if len(st.fields) == 1:
                raise ValueError("cannot drop the only column")
            return StructType([f for f in st.fields if f.name != name]).json()

        return self._publish(
            "alter", [], new_schema.json(),
            summary={"operation_detail": f"drop_column {name}"},
            evolve=lambda fids, nid: (
                {k: v for k, v in fids.items() if k != name}, nid
            ),
            schema_evolve=schema_evolve,
        )

    def rename_column(self, old: str, new: str) -> Snapshot:
        """Metadata-only RENAME COLUMN (Iceberg `ALTER TABLE ... RENAME
        COLUMN` parity): the field keeps its id, only the logical name
        changes, so every historical data file — written under any prior
        name — still resolves through its commit's id->physical-name
        mapping. No data file is touched; time travel to pre-rename
        snapshots still reads under the old name (each snapshot pins its
        own schema + ids)."""
        from pyspark.sql.types import StructField

        schema = self.schema()
        names = {f.name for f in schema.fields}
        if old not in names:
            raise ValueError(f"no such column: {old}")
        if any(old in _spec_sources(s) for s in self._live_specs()):
            # partition values live in directory names keyed by the
            # column name; a safe rename needs spec evolution (rewrite or
            # spec-versioned path parsing) — explicit, like Iceberg
            # requiring REPLACE PARTITION FIELD
            raise ValueError(f"cannot rename partition column: {old}")
        if new in names:
            raise ValueError(f"column already exists: {new}")
        if not new or not new.isidentifier():
            raise ValueError(f"invalid column name: {new!r}")
        if new in self._derived_pnames():
            raise ValueError(
                f"column name collides with a derived partition column: {new}"
            )
        new_schema = StructType(
            [
                StructField(new, f.dataType, f.nullable) if f.name == old else f
                for f in schema.fields
            ]
        )

        def schema_evolve(parent_json: str) -> str:
            # recomputed against the WINNING parent inside the commit
            # retry loop — a concurrent widen/rename must not be
            # reverted by republishing the schema this thread read
            st = StructType.fromJson(json.loads(parent_json))
            pnames = {f.name for f in st.fields}
            if old not in pnames:
                raise ValueError(f"no such column: {old}")
            if new in pnames:
                raise ValueError(f"column already exists: {new}")
            return StructType(
                [
                    StructField(new, f.dataType, f.nullable)
                    if f.name == old
                    else f
                    for f in st.fields
                ]
            ).json()

        return self._publish(
            "alter", [], new_schema.json(),
            summary={"operation_detail": f"rename_column {old} -> {new}"},
            evolve=lambda fids, nid: (
                {(new if k == old else k): v for k, v in fids.items()}, nid
            ),
            schema_evolve=schema_evolve,
        )

    def _snapshot_range(
        self, start_snapshot_id: int | None, end_snapshot_id: int | None
    ) -> tuple[Snapshot, list[tuple[Snapshot, Snapshot | None]]]:
        """The snapshots in ``(start, end]`` in commit order, each with
        its predecessor in the history (None before the first), plus the
        context snapshot whose schema and layout describe the range: the
        end snapshot, or the newest one when ``end_snapshot_id`` is None.
        One newest-first walk (:meth:`_walk_history`) answers everything
        and stops at the start snapshot, so the cost is the snapshots
        newer than the start, not the table's history; the context is
        never a second read of the table, which a racing commit could
        have moved past the walked range. ``start_snapshot_id=None``
        means "since the beginning" and walks the whole history. Raises
        :class:`NoSuchTableError` on an empty history and ``ValueError``
        for an unknown start or end, or an end that precedes the start."""
        history = self._walk_history()
        newer: list[Snapshot] = []  # newest first, down to the start
        start = None
        for s in history:
            if s.snapshot_id == start_snapshot_id:
                start = s
                break
            newer.append(s)
        if start is None:
            if not newer:
                raise NoSuchTableError(self.path)
            if start_snapshot_id is not None:
                raise ValueError(f"start snapshot {start_snapshot_id} not found")
        ids = [s.snapshot_id for s in newer]
        if end_snapshot_id is None:
            hi = 0
        elif end_snapshot_id in ids:
            hi = ids.index(end_snapshot_id)
        elif start is not None and end_snapshot_id == start.snapshot_id:
            return start, []
        elif any(s.snapshot_id == end_snapshot_id for s in history):
            raise ValueError(
                f"end snapshot {end_snapshot_id} precedes start "
                f"snapshot {start_snapshot_id} in table history"
            )
        else:
            raise ValueError(f"end snapshot {end_snapshot_id} not found")
        if not newer:  # the start is the newest snapshot: an empty range
            return start, []
        in_range = newer[hi:][::-1]
        return newer[hi], list(zip(in_range, [start, *in_range[:-1]]))

    def _append_range(
        self, start_snapshot_id: int | None, end_snapshot_id: int | None
    ) -> tuple[Snapshot, list[str], dict]:
        """``(ctx, files, dirs)`` of an append-only change range: the
        context snapshot (see :meth:`_snapshot_range`), the data files
        the range's snapshots added, and each added commit dir's layout
        record as the snapshot that added it resolves it — the context
        snapshot may no longer hold it (a later compaction dropped the
        dir) or may hold a newer spec. An
        'overwrite', 'delete', 'merge' or 'rollback' in range raises —
        merge-on-read deletes and upserts remove rows without an
        overwrite commit, so the diff is no longer append-only; a
        'replace' (compaction: same rows) adds nothing, as Iceberg's
        incremental read skips rewrite snapshots."""
        ctx, walk = self._snapshot_range(start_snapshot_id, end_snapshot_id)
        files: list[str] = []
        dirs: dict = {}
        for snap, _parent in walk:
            if snap.operation in ("overwrite", "delete", "merge", "rollback"):
                raise ValueError(
                    "change range crosses an overwrite/delete/merge "
                    "snapshot; incremental diff is append-only — full "
                    "resync required"
                )
            if snap.operation != "replace":
                files.extend(snap.added_files)
                dirs.update(
                    (d, snap.layout(d)) for d in map(_commit_dir_of, snap.added_files)
                )
        return ctx, files, dirs

    def scan_changes(
        self,
        start_snapshot_id: int | None,
        end_snapshot_id: int | None = None,
        *,
        where=None,
    ) -> DataFrame:
        """Rows appended after ``start_snapshot_id`` up to and including
        ``end_snapshot_id`` (default: current). True incremental read over
        the files added by the snapshots in range — the semantics the
        reference *intends* at icerunner.py:224-259 but does not achieve
        (its SQL multiplies the current table by the snapshot count).
        ``start_snapshot_id=None`` means "since the beginning".
        Only 'append'/'create' snapshots contribute; an 'overwrite' in range
        raises, as the diff is no longer append-only (Iceberg's incremental
        read has the same restriction). ``where`` file-skips the added
        files against their manifest bounds like :meth:`scan`.

        The range comes from one newest-first history walk that stops at
        the start snapshot, and the rows are read under the context
        snapshot's schema: the end snapshot, or the newest one (see
        :meth:`_snapshot_range`). The Flight ``get_changes`` ticket
        serves the same range walk."""
        ctx, files, dirs = self._append_range(start_snapshot_id, end_snapshot_id)
        preds = _normalize_predicates(where)
        if preds:
            files = self._prune_files(ctx, files, preds)
        df = self._read_files(files, ctx, layouts=dirs)
        return df.where(_predicates_to_column(preds)) if preds else df

    def _align_snapshot_columns(
        self, df: DataFrame, from_snap: Snapshot, to_snap: Snapshot,
        keep: tuple = (),
    ) -> DataFrame:
        """Re-express rows read under ``from_snap``'s schema in
        ``to_snap``'s logical column names, matched by FIELD ID (a rename
        in between maps through; a column added later reads as typed
        NULL; a dropped column is not selected). ``keep`` names
        metadata columns (e.g. ``_row_id``) carried through verbatim."""
        to_schema = StructType.fromJson(json.loads(to_snap.schema_json))
        from_by_id = {v: k for k, v in from_snap.field_ids.items()}
        cols = []
        for fld in to_schema.fields:
            src = from_by_id.get(to_snap.field_ids.get(fld.name))
            cols.append(
                F.col(src).alias(fld.name)
                if src is not None and src in df.columns
                else F.lit(None).cast(fld.dataType).alias(fld.name)
            )
        cols += [F.col(k) for k in keep if k in df.columns]
        return df.select(*cols)

    def _deleted_rows_df(
        self, snap: Snapshot, new_delete_files: list[str],
        with_lineage: bool = False,
    ) -> DataFrame:
        """The ROW VALUES removed by ``snap``'s newly attached positional
        delete files: the (file, pos) coordinates joined back to the data
        files they reference (which stay on disk for time travel, so the
        values are recoverable even after later rewrites). One emitted
        row per deleted position — multiplicity-exact under duplicate
        values. Reads ONLY the referenced files: O(deleted delta), not
        O(table)."""
        refs = sorted(self._delete_file_refs(new_delete_files))
        schema = StructType.fromJson(json.loads(snap.schema_json))
        if not refs:
            out = self.spark.createDataFrame([], schema)
            if with_lineage:
                out = out.withColumn("_row_id", F.lit(None).cast("long"))
            return out
        data = self._read_files(refs, snap, with_pos=True)
        dels = (
            self.spark.read.schema("file_path string, pos long")
            .parquet(*[os.path.join(self.path, f) for f in new_delete_files])
            .select(
                F.col("file_path").alias("__del_file"),
                F.col("pos").alias("__del_pos"),
            )
            .distinct()
        )
        joined = data.join(
            dels,
            (F.col("__file") == F.col("__del_file"))
            & (F.col("__pos") == F.col("__del_pos")),
            "inner",
        )
        names = [f.name for f in schema.fields]
        if with_lineage:
            # the deleted row's identity: its file's block start + pos —
            # lookup bounded by the referenced files (O(deleted delta))
            return self._lineage_join(joined, snap.file_stats, refs).select(
                *names, "_row_id"
            )
        return joined.select(*names)

    def scan_changelog(
        self, start_snapshot_id: int | None, end_snapshot_id: int | None = None,
        *, with_ordinal: bool = False, with_lineage: bool = False,
        where=None,
    ) -> DataFrame:
        """Row-level changelog over ``(start, end]`` — every row change
        as a row, with a ``_change_type`` column ('insert' | 'delete'):
        the incremental read that SURVIVES merge-on-read maintenance,
        where :meth:`scan_changes`' append-only contract must refuse
        (Iceberg's ``create_changelog_view`` shape; an update emits its
        delete+insert pair).

        - 'append'/'create'/'merge' snapshots contribute their added
          files as inserts;
        - 'delete'/'merge' snapshots contribute the rows named by their
          newly attached positional delete files as deletes
          (multiplicity-exact: one row per deleted position);
        - 'replace' (compaction) and 'alter' snapshots carry no row
          delta and contribute nothing;
        - an 'overwrite' in range still raises — a wholesale replace has
          no row-level diff short of comparing both snapshots.

        Applying the result to a copy of the start snapshot (append the
        inserts, value-delete the deletes with multiplicity —
        :meth:`apply_changelog`) reproduces the end snapshot exactly:
        positions don't transfer across tables, but value multisets do.
        IO is O(changed rows): added files + the files the delete
        coordinates reference.

        ``with_lineage=True`` adds ``_row_id`` (Iceberg v3 row lineage):
        inserts carry the identity their rows will scan with; deletes
        carry the identity the removed version HAD — so consumers apply
        the delta by stable row id instead of value multiset (feature
        stores, downstream indexes). Lookups stay bounded by the delta's
        files. Pre-lineage files yield NULL ids.

        ``with_ordinal=True`` adds ``_change_ordinal`` (the producing
        snapshot's sequence — Iceberg's changelog ordinal): consumers
        that must resolve an id changed MULTIPLE times in the range
        (e.g. inserted then deleted vs deleted then re-inserted) take
        the row with the highest ordinal, inserts outranking deletes at
        equal ordinal (a merge emits its delete+insert pair at one
        sequence and the insert is the survivor).

        ``where=`` (the scan() predicate vocabulary) restricts the
        changelog to matching rows — and PRUNES the insert side's file
        list at planning through the same manifest tiers as scan(), so a
        CDC consumer following one partition of a 100 TB table reads
        O(that partition's delta), not O(the table's delta). A residual
        Catalyst filter keeps the result exact (delete rows filter by
        their VALUES, delta-sized reads either way).

        Like :meth:`scan_changes`, the range comes from one newest-first
        history walk that stops at the start snapshot, each snapshot is
        diffed against its predecessor in the history, and every row is
        expressed in the context snapshot's schema: the end snapshot, or
        the newest one."""
        ctx, walk = self._snapshot_range(start_snapshot_id, end_snapshot_id)
        insert_files: list[str] = []
        insert_parts: list[tuple[int, list[str]]] = []
        insert_dirs: dict = {}
        ins_lineage: dict = {}
        delete_parts: list[tuple[Snapshot, list[str]]] = []
        eq_parts: list[tuple[Snapshot, Snapshot | None, list]] = []
        for snap, prev in walk:
            if snap.operation in ("overwrite", "rollback"):
                raise ValueError(
                    "scan_changelog crosses an overwrite/rollback "
                    "snapshot; a wholesale replace has no row-level "
                    "diff — full resync required"
                )
            if snap.operation in ("append", "create", "merge"):
                insert_files.extend(snap.added_files)
                if snap.added_files:
                    insert_parts.append((snap.sequence, snap.added_files))
                insert_dirs.update(
                    (d, snap.layout(d)) for d in map(_commit_dir_of, snap.added_files)
                )
                for f in snap.added_files:
                    # row-id block starts, captured from the PRODUCING
                    # snapshot (a later compaction may have dropped
                    # the file from the end snapshot's stats)
                    per = snap.file_stats.get(f) or {}
                    if "__first_row_id__" in per:
                        ins_lineage[f] = {
                            "__first_row_id__": per["__first_row_id__"]
                        }
            if snap.operation in ("delete", "merge"):
                prior = set(prev.delete_files) if prev else set()
                new_dels = [f for f in snap.delete_files if f not in prior]
                if new_dels:
                    delete_parts.append((snap, new_dels))
                # equality entries are append-only between replaces,
                # so the new ones are the suffix past the parent's
                n_prior_eq = len(prev.eq_delete_files) if prev else 0
                new_eq = snap.eq_delete_files[n_prior_eq:]
                if new_eq:
                    eq_parts.append((snap, prev, new_eq))
        schema = StructType.fromJson(json.loads(ctx.schema_json))
        preds = _normalize_predicates(where)
        if preds:
            # insert-side manifest pruning: stats for files later
            # compacted away may be gone from ctx — those files simply
            # never skip (conservative); partition-path tiers still
            # apply from the paths themselves
            kept = set(self._prune_files(ctx, insert_files, preds))
            insert_files = [f for f in insert_files if f in kept]
            insert_parts = [
                (seq, [f for f in files if f in kept])
                for seq, files in insert_parts
            ]
            insert_parts = [(s, fs) for s, fs in insert_parts if fs]

        def _insert_df(files):
            df = self._read_files(
                files, ctx, layouts=insert_dirs, with_pos=with_lineage
            )
            if with_lineage:
                df = self._lineage_join(df, ins_lineage, files).drop(
                    "__file", "__pos"
                )
            return df.withColumn("_change_type", F.lit("insert"))

        if not with_ordinal:
            out = _insert_df(insert_files)
        else:
            # one read per contributing snapshot so each carries its
            # sequence; ranges are delta-sized, so the union stays short
            out = _insert_df([]).withColumn("_change_ordinal", F.lit(0))
            for seq, files in insert_parts:
                out = out.unionByName(
                    _insert_df(files).withColumn("_change_ordinal", F.lit(seq))
                )
        for snap, new_dels in delete_parts:
            part = self._align_snapshot_columns(
                self._deleted_rows_df(snap, new_dels, with_lineage=with_lineage),
                snap, ctx, keep=("_row_id",),
            ).withColumn("_change_type", F.lit("delete"))
            if with_ordinal:
                part = part.withColumn("_change_ordinal", F.lit(snap.sequence))
            out = out.unionByName(part)
        for snap, prevsnap, new_eq in eq_parts:
            # rows an equality delete removed = the PARENT state's rows
            # matching the key set (every parent row predates the delete,
            # so the sequence clause is vacuously true here)
            from functools import reduce

            if prevsnap is None:
                continue
            inv = {int(v): k for k, v in prevsnap.field_ids.items()}
            for paths, fids, _dseq in new_eq:
                keys = self.spark.read.parquet(
                    *[os.path.join(self.path, p) for p in paths]
                )
                # manifest pruning on the key VALUES keeps this read
                # O(matching files), not O(parent table): eq-delete key
                # sets are small by design (the O(keys) commit), so a
                # bounded driver collect builds per-column IN predicates
                # — a conservative superset for multi-column keys. Null
                # keys or oversized sets skip pruning, never correctness.
                files = None
                krows = keys.limit(10_001).collect()
                if len(krows) <= 10_000:
                    eq_preds = []
                    for f in fids:
                        vals = [r[f"__eq_{int(f)}"] for r in krows]
                        if any(v is None for v in vals):
                            eq_preds = None
                            break
                        eq_preds.append((inv[int(f)], "in", vals))
                    if eq_preds:
                        files = self._prune_files(
                            prevsnap, prevsnap.manifest, eq_preds
                        )
                base = self._scan_snapshot(
                    prevsnap, files=files, with_pos=with_lineage
                )
                cond = reduce(
                    lambda a, b: a & b,
                    [
                        F.col(inv[int(f)]).eqNullSafe(keys[f"__eq_{int(f)}"])
                        for f in fids
                    ],
                )
                matched_rows = base.join(keys, cond, "left_semi")
                if with_lineage:
                    matched_rows = self._lineage_join(
                        matched_rows, prevsnap.file_stats,
                        prevsnap.manifest if files is None else files,
                    ).drop("__file", "__pos")
                part = self._align_snapshot_columns(
                    matched_rows, prevsnap, ctx, keep=("_row_id",)
                ).withColumn("_change_type", F.lit("delete"))
                if with_ordinal:
                    part = part.withColumn(
                        "_change_ordinal", F.lit(snap.sequence)
                    )
                out = out.unionByName(part)
        if preds:
            out = out.where(_predicates_to_column(preds))
        return out

    def delete_rows_exact(self, rows: DataFrame) -> Snapshot | None:
        """Value-based DELETE with EXACT MULTIPLICITY: each input row
        removes ONE matching copy from the table (c input copies of a
        value remove c table copies — unlike :meth:`delete_rows`, which
        removes every match of a key). Null-safe on every column. This
        is how a changelog's delete rows apply to a mirror, where
        positional coordinates don't transfer but value multisets do.
        Scale shape: the table is inner-joined to the (small) counted
        delete set — only MATCHING rows reach the per-value window that
        picks which copies go — then the positions publish as a
        merge-on-read delete, O(matched rows) IO."""
        from functools import reduce

        from pyspark.sql import Window

        snap = self.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.path)
        cols = [f.name for f in self.schema().fields]
        counted = (
            rows.select(*cols)
            .groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("__del_n"))
        )
        tgt = self._scan_snapshot(snap, with_pos=True).alias("t")
        dc = counted.alias("d")
        cond = reduce(
            lambda a, b: a & b,
            [F.col(f"t.{c}").eqNullSafe(F.col(f"d.{c}")) for c in cols],
        )
        w = Window.partitionBy(*[F.col(f"t.{c}") for c in cols]).orderBy(
            F.col("t.__file"), F.col("t.__pos")
        )
        matches = (
            tgt.join(dc, cond, "inner")
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= F.col("__del_n"))
            .select(F.col("t.__file").alias("__file"), F.col("t.__pos").alias("__pos"))
        )
        return self._publish_positional_deletes(matches, allow_empty=False)

    def apply_changelog(
        self, changes: DataFrame, *, change_col: str = "_change_type"
    ) -> Snapshot | None:
        """Apply a :meth:`scan_changelog` result to THIS table: append
        the inserts, then value-delete the deletes with multiplicity
        (:meth:`delete_rows_exact`). Insert-before-delete makes a
        same-range insert+delete of one row net out exactly. Two
        snapshots (append + delete); returns the last one published, or
        None for an empty changelog."""
        # metadata columns (ordinal / lineage) are not row VALUES — a
        # changelog read with them still applies by value multiset
        cols = [
            c
            for c in changes.columns
            if c not in (change_col, "_change_ordinal", "_row_id")
        ]
        changes = changes.persist()
        try:
            inserts = changes.filter(F.col(change_col) == "insert").select(*cols)
            out: Snapshot | None = None
            if inserts.limit(1).count():
                out = self.append(inserts)
            dels = changes.filter(F.col(change_col) == "delete").select(*cols)
            if dels.limit(1).count():
                out = self.delete_rows_exact(dels) or out
            return out
        finally:
            changes.unpersist()

    def files_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Data-file inventory of a snapshot (parity with Iceberg's
        ``<t>.files`` metadata table): path, partition values, row count
        and size from parquet footers — driver-side metadata only, no
        data scan. The row/byte numbers are what a planner needs to spot
        skew and small-file problems before compacting."""
        import pyarrow.parquet as _pq

        snap = self._resolve_snapshot(snapshot_id)
        spec = list(snap.partition_spec)
        rows = []
        # content mirrors Iceberg: 'data' rows are the live manifest,
        # 'position-deletes' are pending merge-on-read delete files whose
        # record_count is the number of deleted positions
        listing = (
            [(rel, "data") for rel in snap.manifest]
            + [(rel, "position-deletes") for rel in snap.delete_files]
            + [
                (rel, "equality-deletes")
                for paths, _fids, _seq in snap.eq_delete_files
                for rel in paths
            ]
        )
        id_to_name = {str(v): k for k, v in snap.field_ids.items()}
        for rel, content in listing:
            full = os.path.join(self.path, rel)
            meta = _pq.read_metadata(full)
            parts = _hive_partition_values(rel)
            bounds = snap.file_stats.get(rel, {})
            lower = {
                id_to_name[fid]: str(b[0])
                for fid, b in bounds.items()
                if fid in id_to_name and b[0] is not None
            }
            upper = {
                id_to_name[fid]: str(b[1])
                for fid, b in bounds.items()
                if fid in id_to_name and b[1] is not None
            }
            first_rid = bounds.get("__first_row_id__")
            rows.append(
                (
                    rel,
                    content,
                    _commit_dir_of(rel),
                    {c: parts.get(c) for c in spec},
                    meta.num_rows,
                    os.path.getsize(full),
                    lower or None,
                    upper or None,
                    int(first_rid) if first_rid is not None else None,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "file_path string, content string, commit_dir string, "
            "partition map<string,string>, record_count long, file_size_bytes long, "
            "lower_bounds map<string,string>, upper_bounds map<string,string>, "
            "first_row_id long",
        )

    def partitions_df(self, snapshot_id: int | None = None) -> DataFrame:
        """Per-partition rollup of :meth:`files_df` (Iceberg
        ``<t>.partitions`` parity): file/row/byte counts per partition
        tuple — the skew report for a partitioned table."""
        f = self.files_df(snapshot_id).filter(F.col("content") == "data")
        return f.groupBy("partition").agg(
            F.count(F.lit(1)).alias("file_count"),
            F.sum("record_count").alias("record_count"),
            F.sum("file_size_bytes").alias("total_size_bytes"),
        )

    def snapshots_df(self) -> DataFrame:
        """Snapshot history as a DataFrame (parity with Iceberg's
        ``<t>.snapshots`` metadata table, SURVEY.md §1.1)."""
        rows = [
            (
                s.snapshot_id,
                s.sequence,
                s.parent_id,
                s.timestamp_ms,
                s.operation,
                len(s.added_files),
                len(s.manifest),
            )
            for s in self.snapshots()
        ]
        return self.spark.createDataFrame(
            rows,
            "snapshot_id long, sequence int, parent_id long, committed_at_ms long, "
            "operation string, added_files int, total_files int",
        )

    def refs_df(self) -> DataFrame:
        """Named refs as a DataFrame (Iceberg ``<t>.refs`` metadata
        table): one row per tag and branch with the snapshot it pins."""
        rows = [
            (name, "tag", sid) for name, sid in sorted(self.tags().items())
        ] + [
            (name, "branch", sid)
            for name, sid in sorted(self.branches().items())
        ]
        return self.spark.createDataFrame(
            rows, "name string, type string, snapshot_id long"
        )

    def history_df(self) -> DataFrame:
        """Commit lineage as a DataFrame (Iceberg ``<t>.history``
        metadata table): commit time, snapshot, parent, and whether the
        snapshot is an ancestor of the CURRENT state (false for states
        rolled back past — Iceberg's is_current_ancestor)."""
        snaps = self.snapshots()
        cur = self.current_snapshot()
        ancestors: set[int] = set()
        by_id = {s.snapshot_id: s for s in snaps}
        walk = cur
        while walk is not None:
            ancestors.add(walk.snapshot_id)
            # a rollback restores an ancestor STATE as a new commit; for
            # ancestry purposes it re-parents onto the restored snapshot
            if walk.operation == "rollback":
                det = walk.summary.get("operation_detail", "")
                try:
                    walk = by_id.get(int(det.rsplit(" ", 1)[-1]))
                    continue
                except ValueError:
                    pass
            walk = by_id.get(walk.parent_id) if walk.parent_id else None
        rows = [
            (
                s.timestamp_ms,
                s.snapshot_id,
                s.parent_id,
                s.snapshot_id in ancestors,
            )
            for s in snaps
        ]
        return self.spark.createDataFrame(
            rows,
            "made_current_at_ms long, snapshot_id long, parent_id long, "
            "is_current_ancestor boolean",
        )
