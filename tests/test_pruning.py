"""Scan planning over the per-snapshot columnar stats index: the
vectorized ``IceTable._prune_files`` must keep exactly the files, and
attribute exactly the skipped files per tier, that the per-file loop it
replaced did. The loop is kept below as the reference and both run over
seeded random snapshots covering every tier and every op."""

from __future__ import annotations

import base64
import copy
import datetime
import decimal
import json
import os
import random

import pytest
from pyspark.sql.types import LongType

from icerunner_spark import table as table_mod
from icerunner_spark.table import (
    DirLayout,
    IceTable,
    Snapshot,
    StructType,
    _bloom_may_contain,
    _bloom_positions_py,
    _bounds_may_match,
    _commit_dir_of,
    _decode_bound,
    _encode_bound,
    _hive_partition_values,
    _hive_value_str,
    _normalize_predicates,
    _parse_spec,
    _spark_xxhash64,
    _SpecField,
    _transform_may_match,
)


def reference_prune(table, snap, files, preds, report=None):
    """The per-file pruning loop, as it stood before the index."""
    schema = StructType.fromJson(json.loads(snap.schema_json))
    types = {f.name: f.dataType for f in schema.fields}
    conj = []
    for col, _op, _val in preds:
        dt = types.get(col)
        tname = dt.typeName() if dt is not None else None
        conj.append((
            dt,
            str(snap.field_ids.get(col, "")),
            tname in ("float", "double"),
            tname in ("timestamp", "timestamp_ntz", "date", "decimal"),
        ))
    literals: dict = {}
    undecodable = object()

    def _dir_layout(d: str):
        spec_fields = _parse_spec(snap.layout(d).spec)
        identity = {sf.source for sf in spec_fields if sf.transform == "identity"}
        transforms: dict[str, list[_SpecField]] = {}
        for sf in spec_fields:
            if sf.transform != "identity":
                transforms.setdefault(sf.source, []).append(sf)
        return spec_fields, identity, transforms

    layouts: dict = {}
    out = []
    for rel in files:
        keep = True
        tier = None
        if preds and snap.file_stats.get(rel, {}).get("__rows__") == 0:
            if report is not None:
                report["bounds"] = report.get("bounds", 0) + 1
            continue
        d = _commit_dir_of(rel)
        if d not in layouts:
            layouts[d] = _dir_layout(d)
        spec_fields, spec, transforms = layouts[d]
        pvals = _hive_partition_values(rel) if spec_fields else {}
        for i, (col, op, val) in enumerate(preds):
            for sf in transforms.get(col, []):
                if sf.pname not in pvals:
                    continue
                pv = pvals[sf.pname]
                if op == "is_null":
                    if pv is not None:
                        keep = False
                elif op == "is_not_null":
                    if pv is None:
                        keep = False
                elif pv is None:
                    keep = False
                elif col in types and not (
                    _transform_may_match(sf, pv, op, val, types[col])
                ):
                    keep = False
                if not keep:
                    tier = "transform"
                    break
            if not keep:
                break
            if col in spec:
                if col not in pvals:
                    continue
                pv = pvals[col]
                if op == "is_null":
                    if pv is not None:
                        keep, tier = False, "partition"
                        break
                elif op == "is_not_null":
                    if pv is None:
                        keep, tier = False, "partition"
                        break
                elif pv is None:
                    keep, tier = False, "partition"
                    break
                elif op == "=":
                    hv = _hive_value_str(val)
                    if hv is not None and pv != hv:
                        keep, tier = False, "partition"
                        break
                elif op == "in":
                    hvs = {_hive_value_str(x) for x in val}
                    if None not in hvs and pv not in hvs:
                        keep, tier = False, "partition"
                        break
                elif op == "!=":
                    hv = _hive_value_str(val)
                    if hv is not None and pv == hv:
                        keep, tier = False, "partition"
                        break
                elif op == "not_in":
                    hvs = {_hive_value_str(x) for x in val}
                    if pv in hvs:
                        keep, tier = False, "partition"
                        break
                continue
            if op in ("=", "in") and col in types:
                ent = table._bloom_entry(snap, d, rel, col)
                if ent is not None and ent["type"] == types[col].simpleString():
                    hit = False
                    for v in val if op == "in" else [val]:
                        if v is None:
                            hit = True
                            break
                        h = _spark_xxhash64(v, types[col])
                        if h is None or _bloom_may_contain(
                            ent["_bits"], ent["nbits"], ent["k"], h
                        ):
                            hit = True
                            break
                    if not hit:
                        keep, tier = False, "bloom"
                        break
            per = snap.file_stats.get(rel, {})
            dt, fid, float_type, decode = conj[i]
            bounds = per.get(fid)
            if not bounds or dt is None:
                continue
            nc = bounds[2] if len(bounds) > 2 else None
            rows = per.get("__rows__")
            if op == "is_null":
                if nc == 0:
                    keep, tier = False, "bounds"
                    break
                continue
            if nc is not None and rows is not None and nc == rows:
                keep, tier = False, "bounds"
                break
            if op == "is_not_null" or bounds[0] is None or bounds[1] is None:
                continue
            lo, hi = bounds[0], bounds[1]
            if decode:
                try:
                    lo, hi = _decode_bound(dt, lo), _decode_bound(dt, hi)
                except (ValueError, TypeError):
                    continue
            if i not in literals:
                try:
                    literals[i] = (
                        [_decode_bound(dt, _encode_bound(x) or x) for x in val]
                        if op == "in"
                        else _decode_bound(dt, _encode_bound(val) or val)
                    )
                except (ValueError, TypeError):
                    literals[i] = undecodable
            v = literals[i]
            if v is undecodable:
                continue
            if not _bounds_may_match(lo, hi, op, v, float_type=float_type):
                keep, tier = False, "bounds"
                break
        if keep:
            out.append(rel)
        elif report is not None:
            report[tier] = report.get(tier, 0) + 1
    return out


# ---------- seeded random snapshots ----------

# logical column -> (type, field id); "key" was renamed from "k_old" and
# "w" widened int -> double, "l" int -> long (older dirs keep int bounds)
COLUMNS = {
    "key": ("long", 1),
    "n": ("integer", 2),
    "w": ("double", 3),
    "l": ("long", 4),
    "x": ("double", 5),
    "s": ("string", 6),
    "d": ("date", 7),
    "ts": ("timestamp", 8),
    "dec": ("decimal(10,2)", 9),
    "region": ("string", 10),
    "grp": ("integer", 11),
}

SPECS = [
    [],
    ["region"],
    ["region", "grp"],
    ["bucket(4, key)", "day(ts)"],
    ["truncate(2, s)", "month(d)"],
    ["year(d)", "truncate(10, n)"],
    ["hour(ts)", "grp"],
    ["bucket(3, s)"],
]

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
REGIONS = ["eu", "us", "a/b", "zz"]
STRINGS = ["ab", "abc", "b", "cd", "cde", "ef", "zz", "a/b", "eu", "us"]
BLOOM_BITS, BLOOM_K = 256, 3


def _schema_json() -> str:
    return json.dumps({
        "type": "struct",
        "fields": [
            {"name": c, "type": t, "nullable": True, "metadata": {}}
            for c, (t, _) in COLUMNS.items()
        ],
    })


def _path_value(rng, sf) -> str:
    """A random hive path value for one spec field (sometimes null)."""
    if rng.random() < 0.12:
        return HIVE_NULL
    t, src = sf.transform, sf.source
    if t == "identity":
        v = rng.choice(REGIONS) if src == "region" else str(rng.randrange(4))
        return v.replace("/", "%2F")
    if t == "bucket":
        return str(rng.randrange(sf.param))
    if t == "truncate":
        return rng.choice(["ab", "cd", "ef"]) if src == "s" else str(10 * rng.randrange(3))
    if t == "year":
        return rng.choice(["2023", "2024"])
    if t == "month":
        return rng.choice(["2024-01", "2024-02"])
    if t == "day":
        return f"2024-01-{rng.randrange(1, 5):02d}"
    return f"2024-01-01-{rng.randrange(4):02d}"


def _rel(rng, d: str, spec: list, j: int) -> str:
    segs = [f"{sf.pname}={_path_value(rng, sf)}" for sf in _parse_spec(spec)]
    return "/".join(["data", d, *segs, f"part-{j:05d}.parquet"])


def _bounds(rng, col: str, dir_no: int, rows):
    """[lo, hi(, nulls)] for one file and column, in manifest encoding,
    or None for an unrecorded column."""
    if rng.random() < 0.1:
        return None
    nulls = None if rng.random() < 0.2 else rng.choice([0, 0, 1, 3])
    if rows is not None and rng.random() < 0.08:
        nulls = rows  # an all-null column
    if rng.random() < 0.06:
        return [None, None, nulls]
    if col in ("key", "n", "l", "grp"):
        lo = rng.randrange(0, 60)
        hi = lo if rng.random() < 0.2 else lo + rng.randrange(0, 25)
    elif col in ("w", "x"):
        lo = rng.randrange(0, 60)
        hi = lo if rng.random() < 0.15 else lo + rng.randrange(0, 25)
        if col == "x" or dir_no % 2:  # "w" was int before the widening
            lo, hi = lo + 0.5, hi + 0.5
        if col == "x" and rng.random() < 0.1:
            lo, hi = rng.choice([(float("nan"), float("nan")), (1.5, float("nan"))])
    elif col in ("s", "region"):
        lo, hi = sorted(rng.sample(STRINGS, 2))
        if rng.random() < 0.2:
            hi = lo
    elif col == "d":
        a = datetime.date(2024, 1, 1) + datetime.timedelta(days=rng.randrange(40))
        b = a + datetime.timedelta(days=rng.randrange(0, 10))
        lo, hi = a.isoformat(), b.isoformat()
        if rng.random() < 0.05:
            lo = "not-a-date"
    elif col == "ts":
        a = datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=rng.randrange(100))
        b = a + datetime.timedelta(hours=rng.randrange(0, 12))
        suffix = "+00:00" if rng.random() < 0.5 else ""
        lo, hi = a.isoformat() + suffix, b.isoformat() + suffix
    else:  # dec
        a = decimal.Decimal(rng.randrange(0, 4000)) / 100
        lo, hi = str(a), str(a + decimal.Decimal(rng.randrange(0, 800)) / 100)
    out = [lo, hi]
    if nulls is not None or rng.random() < 0.5:
        out.append(nulls)
    return out


def _literal(rng, col: str):
    """A random predicate literal for ``col``, now and then of the wrong
    type, None or NaN."""
    r = rng.random()
    if r < 0.04:
        return None
    if r < 0.07:
        return "oops" if col not in ("s", "region") else 7
    if col in ("key", "n", "l", "grp"):
        return rng.randrange(-5, 90)
    if col in ("w", "x"):
        if rng.random() < 0.1:
            return float("nan")
        return rng.choice([rng.randrange(-5, 90), rng.randrange(-5, 90) + 0.5])
    if col in ("s", "region"):
        return rng.choice(STRINGS + ["", "zzz", "ca"])
    if col == "d":
        v = datetime.date(2024, 1, 1) + datetime.timedelta(days=rng.randrange(-5, 50))
        return v if rng.random() < 0.7 else v.isoformat()
    if col == "ts":
        v = datetime.datetime(2024, 1, 1) + datetime.timedelta(hours=rng.randrange(-5, 120))
        return v if rng.random() < 0.8 else datetime.date(2024, 1, 2)
    return decimal.Decimal(rng.randrange(-100, 5000)) / 100


OPS = ["=", "<", "<=", ">", ">=", "in", "not_in", "!=", "is_null", "is_not_null", "between"]


def _predicates(rng) -> list[tuple]:
    preds = []
    for _ in range(rng.randrange(1, 4)):
        col = rng.choice(list(COLUMNS) + ["nope"] if rng.random() < 0.03 else list(COLUMNS))
        lit_col = col if col in COLUMNS else "key"
        op = rng.choice(OPS)
        if op in ("in", "not_in"):
            val = [_literal(rng, lit_col) for _ in range(rng.randrange(0, 6))]
        elif op == "between":
            val = sorted([_literal(rng, lit_col) for _ in range(2)], key=repr)
        else:
            val = _literal(rng, lit_col)
        preds.append((col, op, val))
    return _normalize_predicates(preds)


def _bloom_entry(rng, lo, hi) -> dict:
    """A bloom sidecar entry for a long column holding a sample of
    [lo, hi]; typed int now and then (a pre-widening hash)."""
    bits = bytearray(BLOOM_BITS // 8)
    if lo is not None and hi is not None:
        for v in rng.sample(range(lo, hi + 1), min(3, hi - lo + 1)):
            for p in _bloom_positions_py(_spark_xxhash64(v, LongType()), BLOOM_BITS, BLOOM_K):
                bits[p >> 3] |= 0x80 >> (p & 7)
    return {
        "nbits": BLOOM_BITS, "k": BLOOM_K,
        "type": "bigint" if rng.random() < 0.85 else "int",
        "bits": base64.b64encode(bytes(bits)).decode("ascii"),
    }


def random_snapshot(rng, root: str) -> tuple[Snapshot, list[str]]:
    """A snapshot over several commit dirs under mixed specs (one dir
    without a layout record), with bloom sidecars written under ``root``,
    plus files of the same shape outside the snapshot's stats. One in
    four is unpartitioned throughout."""
    manifest, outside, stats, layouts = [], [], {}, {}
    table_spec = [] if rng.random() < 0.25 else ["region"]
    for dir_no in range(rng.randrange(1, 9)):
        d = f"snap-{dir_no}-{rng.randrange(10**6):06d}"
        spec = rng.choice(SPECS) if table_spec else []
        renamed = dir_no < 2
        mapping = {str(fid): c for c, (_, fid) in COLUMNS.items()}
        if renamed:
            mapping["1"] = "k_old"
        if dir_no != 1:  # dir 1 reads under the snapshot's spec
            layouts[d] = DirLayout(mapping, dir_no, spec)
        else:
            spec = table_spec
        bloom: dict = {}
        for j in range(rng.randrange(1, 12)):
            rel = _rel(rng, d, spec, j)
            if rng.random() < 0.15:
                outside.append(rel)
            else:
                manifest.append(rel)
                rows = None if rng.random() < 0.1 else rng.choice([0] + [rng.randrange(1, 50)] * 9)
                per = {} if rows is None else {"__rows__": rows}
                for c, (_, fid) in COLUMNS.items():
                    b = _bounds(rng, c, dir_no, rows)
                    if b is not None:
                        per[str(fid)] = b
                if rng.random() > 0.05:
                    stats[rel] = per
            kb = (stats.get(rel) or {}).get("1")
            if rng.random() < 0.5 and kb and isinstance(kb[0], int):
                bloom[rel] = {("k_old" if renamed else "key"): _bloom_entry(rng, kb[0], kb[1])}
        if bloom and rng.random() < 0.7:
            os.makedirs(os.path.join(root, "data", d), exist_ok=True)
            with open(os.path.join(root, "data", d, "_bloom.json"), "w") as f:
                json.dump(bloom, f)
    snap = Snapshot(
        snapshot_id=rng.randrange(1, 2**62), sequence=9, parent_id=None,
        timestamp_ms=0, operation="append", added_files=[], manifest=manifest,
        schema_json=_schema_json(),
        field_ids={c: fid for c, (_, fid) in COLUMNS.items()},
        next_field_id=len(COLUMNS) + 1, partition_spec=table_spec,
        layouts=layouts, file_stats=stats,
    )
    return snap, outside


def _file_lists(rng, snap, outside):
    """The manifest itself, a copy of it, and a shuffled mix of manifest
    files and files outside the snapshot's stats (a change range)."""
    mixed = rng.sample(snap.manifest, len(snap.manifest) // 2) + outside
    rng.shuffle(mixed)
    return [snap.manifest, list(snap.manifest), mixed]


def _outcome(prune, t, snap, files, preds):
    """(kept files, skipped-per-tier) of one pruning call, or the type
    of the error it raised (both implementations keep every file for a
    literal they cannot type, so no seeded predicate is expected to
    raise; see test_undecodable_decimal_literal_keeps_every_file)."""
    report: dict = {}
    try:
        return prune(t, snap, files, preds, report), report
    except Exception as e:  # noqa: BLE001 - compared, not swallowed
        return type(e), None


@pytest.mark.parametrize("seed", range(40))
def test_index_pruning_matches_the_per_file_loop(tmp_path, seed):
    rng = random.Random(seed)
    root = str(tmp_path / "t")
    snap, outside = random_snapshot(rng, root)
    t = IceTable(None, root)
    for _ in range(25):
        preds = _predicates(rng)
        for files in _file_lists(rng, snap, outside):
            want, want_rep = _outcome(reference_prune, t, snap, files, preds)
            got, got_rep = _outcome(IceTable._prune_files, t, snap, files, preds)
            assert got == want, preds
            assert got_rep == want_rep, preds


def test_random_snapshots_reach_every_tier(tmp_path):
    """The seeded tables above exercise every tier, so their agreement
    is not vacuous."""
    seen: dict = {}
    for seed in range(40):
        rng = random.Random(seed)
        root = str(tmp_path / f"t{seed}")
        snap, outside = random_snapshot(rng, root)
        t = IceTable(None, root)
        for _ in range(25):
            preds = _predicates(rng)
            for files in _file_lists(rng, snap, outside):
                _, report = _outcome(IceTable._prune_files, t, snap, files, preds)
                for tier, n in (report or {}).items():
                    seen[tier] = seen.get(tier, 0) + n
    assert set(seen) == {"transform", "partition", "bloom", "bounds"}
    assert min(seen.values()) > 50


def test_index_is_built_once_per_snapshot(tmp_path, monkeypatch):
    built = []

    class Counting(table_mod._PruneIndex):
        def __init__(self, snap):
            built.append(snap.snapshot_id)
            super().__init__(snap)

    monkeypatch.setattr(table_mod, "_PruneIndex", Counting)
    rng = random.Random(7)
    snap, _ = random_snapshot(rng, str(tmp_path / "t"))
    t = IceTable(None, str(tmp_path / "t"))
    preds = [("key", ">=", 10), ("s", "<", "cd")]
    first = t._prune_files(snap, snap.manifest, preds)
    second = t._prune_files(snap, list(snap.manifest), preds)
    t._prune_files(snap, snap.manifest, [("ts", "is_null", None)])
    assert first == second
    assert built == [snap.snapshot_id]
    # derived state: not part of the snapshot's identity or its JSON
    assert snap.prune_index is not None
    assert "prune_index" not in snap.to_json()
    bare = copy.copy(snap)
    bare.prune_index = None
    assert bare == snap


def test_cached_snapshot_shares_its_index(spark, warehouse, monkeypatch):
    """Through the snapshot cache every pruned read of one table version
    uses one index: plan_files, explain_scan and scan build it once."""
    t = IceTable(spark, os.path.join(warehouse, "ix"))
    t.create(spark.range(0, 50, numPartitions=1).withColumnRenamed("id", "k"))
    t.append(spark.range(50, 100, numPartitions=1).withColumnRenamed("id", "k"))
    built = []

    class Counting(table_mod._PruneIndex):
        def __init__(self, snap):
            built.append(snap.snapshot_id)
            super().__init__(snap)

    monkeypatch.setattr(table_mod, "_PruneIndex", Counting)
    where = [("k", ">=", 60)]
    assert len(t.plan_files(where)) == 1
    assert t.explain_scan(where)["skipped"] == {"bounds": 1}
    assert t.scan(where=where).count() == 40
    assert built == [t.current_snapshot().snapshot_id]


def test_concurrent_first_use_of_the_index(tmp_path):
    """Threads racing on a fresh snapshot's lazy index (its build, each
    column's stats, the bloom tier's dir ids) all get the serial
    answer."""
    import sys
    import threading

    rng = random.Random(11)
    root = str(tmp_path / "t")
    snap, outside = random_snapshot(rng, root)
    t = IceTable(None, root)
    calls = []
    for _ in range(30):
        preds = _predicates(rng)
        for files in _file_lists(rng, snap, outside):
            calls.append((files, preds, _outcome(reference_prune, t, snap, files, preds)))
    fresh = copy.copy(snap)
    fresh.prune_index = None
    errors: list = []

    def worker(offset: int) -> None:
        try:
            for k in range(len(calls)):
                files, preds, want = calls[(k * 7 + offset) % len(calls)]
                got = _outcome(IceTable._prune_files, t, fresh, files, preds)
                if got != want:
                    errors.append((preds, got, want))
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []


_DECIMAL_JUNK = [("price", "=", None), ("price", ">", "abc"), ("price", "in", [None])]


@pytest.mark.parametrize("pred", _DECIMAL_JUNK)
def test_undecodable_decimal_literal_keeps_every_file(spark, warehouse, pred):
    """A literal that is no decimal cannot be compared with a decimal
    column's bounds: the pruner keeps every file, as it does for a
    column without bounds, instead of raising out of planning."""
    import pyarrow as pa

    t = IceTable(spark, os.path.join(warehouse, "dec"))
    price = [decimal.Decimal(i * 125) / 100 for i in range(40)]
    t.create(pa.table({"k": pa.array(range(40), pa.int64()),
                       "price": pa.array(price, pa.decimal128(10, 2))}))
    files = sorted(t.current_snapshot().manifest)
    assert len(files) > 1
    assert sorted(t.plan_files([pred])) == files
    assert t.plan_files([("price", ">", "30")]) != files  # decodable prunes
    rep = t.explain_scan([pred])
    assert rep["read_files"] == rep["total_files"] == len(files)
    assert sum(rep["skipped"].values()) == 0
    assert t.scan(where=[pred]).columns == ["k", "price"]
    with pytest.raises(ValueError, match="not a decimal value"):
        _decode_bound(t.schema()["price"].dataType, pred[2])
    with pytest.raises(ValueError, match="not a decimal value"):
        _decode_bound(t.schema()["price"].dataType, "NaN")
