"""Snapshot history reads cost O(snapshots they return): range walks,
time travel and id lookups walk newest first and stop at their answer,
parsed snapshots are shared through a cache keyed by file identity, and
branch forks / fast-forwards write slim snapshots that share segments."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

import icerunner_spark.table as table_mod
from icerunner_spark.matview import IncrementalAggView
from icerunner_spark.operators.ann_index import IncrementalAnnIndex
from icerunner_spark.table import CommitConflict, IceTable
from tests.inline_layout_maps import (
    MAP_KEYS,
    carries_maps,
    layout_rich_table,
    more_rows,
    rewrite_with_inline_maps,
    rows,
)


def _rows(lo: int, hi: int) -> pa.Table:
    return pa.table({"k": pa.array(range(lo, hi), pa.int64())})


def _create(spark, path: str, **kw) -> IceTable:
    t = IceTable(spark, path)
    t.create(spark.range(3).select(F.col("id").alias("k")), **kw)
    return t


@pytest.fixture()
def parses(monkeypatch):
    """Count snapshot-file parses, starting from a cold cache."""
    calls = []
    real = table_mod._load_snapshot_payload

    def counting(text, metadata_dir):
        calls.append(metadata_dir)
        return real(text, metadata_dir)

    monkeypatch.setattr(table_mod, "_load_snapshot_payload", counting)
    table_mod._snapshot_cache.clear()
    return calls


def _expire_around_tag(t: IceTable) -> tuple:
    """Commits seq 0..3, tags seq 0, expires to the head: the surviving
    sequence numbers are {0, 3}, with a gap the walk must cross."""
    for i in range(3):
        t.set_properties({"round": str(i)})
    tagged = t.snapshots()[0]
    t.create_tag("keep", tagged.snapshot_id)
    t.expire_snapshots(keep_last=1)
    names = sorted(f for f in os.listdir(t.metadata_dir) if f.startswith("snap-"))
    assert names == ["snap-0.json", "snap-3.json"]
    return tagged, t.current_snapshot()


def test_walk_crosses_expired_gap_next_to_tag(spark, warehouse):
    t = _create(spark, warehouse + "/t")
    tagged, head = _expire_around_tag(t)
    assert [s.sequence for s in t._walk_history()] == [3, 0]
    assert t.snapshot_by_id(tagged.snapshot_id) == tagged
    assert t._resolve_snapshot(as_of_ms=tagged.timestamp_ms) == (
        head if head.timestamp_ms <= tagged.timestamp_ms else tagged
    )
    ctx, walk = t._snapshot_range(tagged.snapshot_id, None)
    assert ctx == head and walk == [(head, tagged)]
    ctx, walk = t._snapshot_range(None, head.snapshot_id)
    assert ctx == head and walk == [(tagged, None), (head, tagged)]

    # the cursor stamp sits on the tagged snapshot, behind the gap
    base = _create(spark, warehouse + "/base")
    view = IncrementalAggView(base, warehouse + "/mv", ["k"])
    view.mv.create(
        spark.range(1).select(F.col("id").alias("k")),
        summary={"mv_cursor": "42"},
    )
    _expire_around_tag(view.mv)
    assert view.cursor() == 42
    ann = IncrementalAnnIndex(base, warehouse + "/ann")
    ann.index.create(
        spark.range(1).select(F.col("id").alias("k")),
        summary={"ann_cursor": "7"},
    )
    _expire_around_tag(ann.index)
    assert ann.cursor() == 7


def test_range_reads_parse_only_their_range(spark, warehouse, parses):
    t = _create(spark, warehouse + "/t")
    for i in range(300):
        t.append(_rows(10 + i, 11 + i))
    snaps = t.snapshots()
    assert len(snaps) == 301
    start = snaps[-11]

    table_mod._snapshot_cache.clear()
    parses.clear()
    ctx, files, _dirs = t._append_range(start.snapshot_id, None)
    assert ctx == snaps[-1]
    assert files == [f for s in snaps[-10:] for f in s.added_files]
    assert len(parses) <= 11
    parses.clear()
    t._append_range(start.snapshot_id, None)
    assert parses == []

    target = snaps[-2]
    want = [s for s in snaps if s.timestamp_ms <= target.timestamp_ms][-1]
    table_mod._snapshot_cache.clear()
    parses.clear()
    assert t._resolve_snapshot(as_of_ms=target.timestamp_ms) == want
    assert len(parses) <= 2

    table_mod._snapshot_cache.clear()
    parses.clear()
    assert t.snapshot_by_id(snaps[-1].parent_id) == snaps[-2]
    assert len(parses) <= 2

    # a snapshot file holds its refs and its own delta: the per-dir
    # layout records live in the segments, not in every file
    texts = {}
    for seq in (50, 300):
        with open(t._snapshot_path(seq)) as f:
            texts[seq] = f.read()
    assert len(texts[300]) <= len(texts[50]) + 1024
    for text in texts.values():
        assert not any(k in text for k in MAP_KEYS)


def test_warm_segments_are_not_sized_again(spark, warehouse, parses, monkeypatch):
    """A cached segment costs neither a stat nor a path join: only a
    miss sizes its file, and an oversized segment still parses on every
    load, uncached."""
    t = _create(spark, warehouse + "/t")
    for i in range(20):
        t.append(_rows(10 + i, 11 + i))
    table_mod._seg_cache.clear()
    snaps = t.snapshots()  # cold: sizes each segment once
    seg_dir = t._segments_dir()
    sized, parsed = [], []
    real_getsize, real_parse = os.path.getsize, table_mod._parse_segment

    def getsize(path):
        if os.path.dirname(path) == seg_dir:
            sized.append(path)
        return real_getsize(path)

    def parse(path):
        parsed.append(path)
        return real_parse(path)

    monkeypatch.setattr(table_mod.os.path, "getsize", getsize)
    monkeypatch.setattr(table_mod, "_parse_segment", parse)
    table_mod._snapshot_cache.clear()
    parses.clear()
    assert t.snapshots() == snaps
    assert len(parses) == len(snaps)  # every snapshot file parsed again
    assert sized == [] and parsed == []  # no segment sized or parsed

    monkeypatch.setattr(table_mod, "_SEG_CACHE_MAX_BYTES", 0)
    table_mod._seg_cache.clear()
    head = t.current_snapshot()
    refs = len(head._segments)
    for _ in range(2):
        table_mod._snapshot_cache.clear()
        assert t.current_snapshot() == head
    assert len(sized) == len(parsed) == 2 * refs
    assert len(table_mod._seg_cache) == 0


def test_reused_sequence_after_failed_fast_forward_is_reparsed(
    spark, warehouse, monkeypatch
):
    t = _create(spark, warehouse + "/t")
    b = t.create_branch("audit")
    b.append(_rows(10, 12))
    b.append(_rows(12, 14))
    # a racing writer holds main's slot 2, so the fast-forward claims
    # slot 1, fails on slot 2 and deletes its claim
    blocker = t._snapshot_path(2)
    with open(blocker, "w") as f:
        f.write("{}")
    claim = t._snapshot_path(1)
    seen = []
    real_remove = os.remove

    def reader_sees_claim(path):
        if path == claim:
            seen.append(t._load_snapshot_by_seq(1))  # now in the cache
        real_remove(path)

    monkeypatch.setattr(table_mod.os, "remove", reader_sees_claim)
    with pytest.raises(CommitConflict):
        t.fast_forward("audit")
    monkeypatch.undo()
    os.remove(blocker)
    assert seen and not os.path.exists(claim)
    new = t.append(_rows(100, 105))
    assert new.sequence == 1 and seen[0].sequence == 1
    assert t.current_snapshot().snapshot_id == new.snapshot_id
    assert t._load_snapshot_by_seq(1).snapshot_id != seen[0].snapshot_id
    assert t.scan().count() == 8


def test_expired_snapshot_is_not_served_from_cache(spark, warehouse):
    t = _create(spark, warehouse + "/t")
    for i in range(3):
        t.append(_rows(10 + i, 11 + i))
    old = t.snapshots()  # every snapshot now cached
    t.expire_snapshots(keep_last=1)
    with pytest.raises(FileNotFoundError):
        t._load_snapshot_by_seq(old[1].sequence)
    with pytest.raises(ValueError, match="no snapshot"):
        t.snapshot_by_id(old[1].snapshot_id)
    with pytest.raises(ValueError, match="start snapshot .* not found"):
        t._snapshot_range(old[1].snapshot_id, None)
    assert [s.snapshot_id for s in t.snapshots()] == [old[-1].snapshot_id]


def test_commit_from_another_process_is_seen(spark, warehouse):
    t = _create(spark, warehouse + "/t")
    before = t.current_snapshot()  # cached
    code = (
        "import sys; from icerunner_spark.table import IceTable; "
        "IceTable(None, sys.argv[1]).set_properties({'from': 'other'})"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code, t.path], check=True, cwd=repo)
    now = t.current_snapshot()
    assert now.sequence == before.sequence + 1
    assert now.properties == {"from": "other"}


def test_publish_leaves_cached_parent_unchanged(spark, warehouse):
    t = _create(spark, warehouse + "/t", properties={"a": "1"})
    t.append(_rows(10, 20))
    parent = t.current_snapshot()
    t.append(_rows(20, 30))
    t.set_properties({"a": None, "b": "2"})
    t.add_column("v", "string")
    t.delete_where("k = 11", mode="merge-on-read")
    t.rollback_to(parent.snapshot_id)
    assert t._load_snapshot_by_seq(parent.sequence) is parent
    with open(t._snapshot_path(parent.sequence)) as f:
        fresh = table_mod._load_snapshot_payload(f.read(), t.metadata_dir)
    assert parent == fresh
    assert parent._segments == fresh._segments
    assert parent._tombstones == fresh._tombstones


def _formats(metadata_dir: str) -> set:
    out = set()
    for f in os.listdir(metadata_dir):
        if f.startswith("snap-") and f.endswith(".json"):
            with open(os.path.join(metadata_dir, f)) as fh:
                out.add(json.load(fh).get("format"))
    return out


def test_branch_and_fast_forward_write_slim_snapshots(spark, warehouse):
    t = _create(spark, warehouse + "/t")
    t.append(_rows(10, 20))
    b = t.create_branch("audit")
    assert _formats(b.metadata_dir) == {2}
    b.append(_rows(20, 30))
    b.append(_rows(30, 40))
    t.fast_forward("audit")
    assert _formats(t.metadata_dir) == {2}
    t.drop_branch("audit")
    # the fast-forwarded snapshots resolve their segments under main's
    # metadata dir, and segment GC keeps every one a kept snapshot uses
    t.remove_orphans(older_than_s=0)
    t.expire_snapshots(keep_last=2)
    t._gc_segments(t.snapshots(), min_age_s=0)
    table_mod._snapshot_cache.clear()
    assert t.scan().count() == 33
    assert sorted(r["k"] for r in t.scan().collect()) == [
        *range(3), *range(10, 40)
    ]
    assert t.scan_changes(t.snapshots()[0].snapshot_id).count() == 10


def test_branch_fork_of_legacy_snapshot_reseeds_segment(spark, warehouse):
    t = _create(spark, warehouse + "/t")
    p = t._snapshot_path(t.current_snapshot().sequence)
    legacy = t.current_snapshot().to_json()
    os.remove(p)
    with open(p, "w") as f:
        f.write(legacy)
    b = t.create_branch("audit")
    assert _formats(b.metadata_dir) == {2}
    b.append(_rows(10, 12))
    t.fast_forward("audit")
    assert _formats(t.metadata_dir) == {None, 2}
    assert t.scan().count() == 5

    # a slim head that carries the per-dir maps inline (see
    # tests/inline_layout_maps.py): the fork reseeds it into one segment
    # with every layout record, and the fast-forward publishes it back
    t = layout_rich_table(spark, warehouse + "/maps")
    want = rows(t.scan())
    head = t.current_snapshot()
    rewrite_with_inline_maps(t)
    b = t.create_branch("audit")
    fork = os.path.join(b.metadata_dir, f"snap-{head.sequence}.json")
    assert not carries_maps(fork)
    assert len(json.load(open(fork))["segments"]) == 1
    assert rows(b.scan()) == want
    b.append(more_rows(spark, 30, 31))
    t.fast_forward("audit")
    assert rows(t.scan()) == sorted(want + [(30, "c30", "z")])
    assert rows(t.scan(snapshot_id=head.snapshot_id)) == want


def test_cache_is_thread_safe_under_eviction(spark, warehouse):
    t = _create(spark, warehouse + "/t")
    n = table_mod._SNAPSHOT_CACHE_SIZE + 16  # every full walk evicts
    for i in range(n):
        t.set_properties({"round": str(i)})
    errors: list = []

    def reader(offset: int) -> None:
        try:
            for rep in range(3):
                for seq in range(n + 1):
                    s = (seq * 7 + offset + rep) % (n + 1)
                    if t._load_snapshot_by_seq(s).sequence != s:
                        errors.append(f"seq {s} served another snapshot")
                assert len(t.snapshots()) == n + 1
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=reader, args=(i,)) for i in range(8)]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(table_mod._snapshot_cache) <= table_mod._SNAPSHOT_CACHE_SIZE
