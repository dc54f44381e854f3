"""Manifest-segment indirection (snapshot format 2): a commit's metadata
write must be O(added files), not O(table files), while reconstruction,
legacy interop, rollback, and GC stay exact."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from icerunner_spark.table import IceTable
from tests.inline_layout_maps import (
    carries_maps,
    layout_rich_table,
    more_rows,
    rewrite_with_inline_maps,
    rows,
)


def _snap_file(t: IceTable):
    seq = t.current_snapshot().sequence
    return os.path.join(t.metadata_dir, f"snap-{seq}.json")


def test_commit_metadata_is_o_delta(spark, warehouse):
    df = spark.range(2000).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("v")
    )
    t = IceTable(spark, warehouse + "/t")
    t.create(df.filter(F.col("k") < 100).repartition(2))
    sizes = []
    for i in range(1, 16):
        t.append(
            df.filter((F.col("k") >= i * 100) & (F.col("k") < (i + 1) * 100))
            .repartition(2)
        )
        sizes.append(os.path.getsize(_snap_file(t)))
    # manifest grows 2 files per commit (32 total), but each snapshot
    # JSON stores only segment REFS — the file grows by one ref per
    # commit, not by a manifest copy or a per-dir layout record. A
    # full-format snapshot here is several KB of paths+stats per commit
    # and grows linearly by ~1KB.
    d = json.load(open(_snap_file(t)))
    assert d["format"] == 2 and len(d["segments"]) == 16
    ref = len(json.dumps(d["segments"][-1])) + len(", ")
    # 14 more refs than the first append's file, plus a few digits of
    # growing counters (sequence, totals, next row id)
    assert sizes[-1] - sizes[0] <= 14 * ref + 16
    # reconstruction is exact
    assert len(t.current_snapshot().manifest) == 32
    assert t.scan().count() == 1600
    # stats pruning still reads through segments
    assert len(t.plan_files([("k", "=", 55)])) < 32


def test_replace_consolidates_and_time_travel_survives(spark, warehouse):
    df = spark.range(500).select(F.col("id").alias("k"))
    t = IceTable(spark, warehouse + "/t")
    t.create(df.filter(F.col("k") < 250))
    s0 = t.current_snapshot().snapshot_id
    t.append(df.filter(F.col("k") >= 250))
    t.compact(target_file_rows=1000)  # replace-manifest commit
    d = json.load(open(_snap_file(t)))
    assert d["format"] == 2
    # replaced files tombstone out (below the consolidation threshold
    # the parent segments stay referenced); no live file is tombstoned
    snap = t.current_snapshot()
    assert set(d["tombstones"]).isdisjoint(snap.manifest)
    assert t.scan().count() == 500
    # time travel to pre-compact snapshots resolves THEIR segments
    assert t.scan(snapshot_id=s0).count() == 250


def test_legacy_full_format_parent_interop(spark, warehouse):
    df = spark.range(300).select(F.col("id").alias("k"))
    t = IceTable(spark, warehouse + "/t")
    t.create(df.filter(F.col("k") < 100))
    # rewrite the head in the legacy self-contained format (what branch
    # copies and pre-segment tables contain)
    p = _snap_file(t)
    legacy = t.current_snapshot().to_json()
    os.remove(p)
    with open(p, "w") as f:
        f.write(legacy)
    assert json.loads(legacy).get("format") != 2
    # next commit reseeds the legacy manifest into a segment
    t.append(df.filter(F.col("k") >= 100))
    d = json.load(open(_snap_file(t)))
    assert d["format"] == 2
    assert t.scan().count() == 300

    # a slim log whose files carry the per-dir maps inline and whose
    # segments carry no layout records: the mapping, the spec and the
    # sequence of its dirs each change the rows read
    t = layout_rich_table(spark, warehouse + "/maps")
    want = rows(t.scan())
    assert (1, "b1", "z") in want and (0, "a0", "x") in want
    assert all(k != 1 or w == "b1" for k, w, _p in want)
    head = t.current_snapshot().snapshot_id
    rewrite_with_inline_maps(t)
    assert carries_maps(_snap_file(t))
    assert rows(t.scan()) == want
    t.create_tag("maps", head)
    # the next commit reseeds the head into one segment with every record
    t.append(more_rows(spark, 20, 22))
    assert not carries_maps(_snap_file(t))
    assert len(json.load(open(_snap_file(t)))["segments"]) == 2
    grown = sorted(want + [(20, "c20", "z"), (21, "c21", "z")])
    assert rows(t.scan()) == grown
    t.compact(target_file_rows=1000)
    assert rows(t.scan()) == grown
    t.expire_snapshots(keep_last=1)
    t._gc_segments(t.snapshots(), min_age_s=0)
    assert rows(t.scan()) == grown
    # time travel to the rewritten head still finds its segments
    assert rows(t.scan(snapshot_id=head)) == want


def test_rollback_past_consolidation_covers_manifest(spark, warehouse):
    df = spark.range(400).select(F.col("id").alias("k"))
    t = IceTable(spark, warehouse + "/t")
    t.create(df.filter(F.col("k") < 200))
    s0 = t.current_snapshot().snapshot_id
    t.append(df.filter(F.col("k") >= 200))
    t.compact(target_file_rows=10_000)  # consolidation drops s0's segment refs
    t.rollback_to(s0)
    # the restored manifest isn't in the parent's segment union — the
    # coverage guard must emit a fresh consolidated segment
    assert t.scan().count() == 200
    assert sorted(r["k"] for r in t.scan().collect()) == list(range(200))
    # properties survive rollback with the ancestor's state
    t2 = IceTable(spark, warehouse + "/p")
    t2.create(df, properties={"write.bloom.columns": "k"})
    sp = t2.current_snapshot().snapshot_id
    t2.set_properties({"write.bloom.columns": None, "x": "1"})
    t2.rollback_to(sp)
    assert t2.properties() == {"write.bloom.columns": "k"}


def test_rewrite_manifests_consolidates(spark, warehouse):
    df = spark.range(600).select(F.col("id").alias("k"))
    t = IceTable(spark, warehouse + "/t")
    t.create(df.filter(F.col("k") < 100))
    s0 = t.current_snapshot().snapshot_id
    for i in range(1, 6):
        t.append(df.filter((F.col("k") >= i * 100) & (F.col("k") < (i + 1) * 100)))
    assert len(t.current_snapshot()._segments) == 6
    t.rewrite_manifests()
    d = json.load(open(_snap_file(t)))
    assert d["format"] == 2 and len(d["segments"]) == 1 and d["tombstones"] == []
    assert t.scan().count() == 600
    # metadata-only: CDC passes straight through the alter commit
    assert t.scan_changes(s0).count() == 500


def test_expire_gc_reaps_unreferenced_segments(spark, warehouse):
    df = spark.range(300).select(F.col("id").alias("k"))
    t = IceTable(spark, warehouse + "/t")
    t.create(df.filter(F.col("k") < 100))
    t.append(df.filter((F.col("k") >= 100) & (F.col("k") < 200)))
    t.overwrite(df.filter(F.col("k") >= 200))  # drops earlier segments
    seg_dir = t._segments_dir()
    n_before = len(os.listdir(seg_dir))
    t.expire_snapshots(keep_last=1)
    t._gc_segments([t.current_snapshot()], min_age_s=0.0)
    live = set(os.listdir(seg_dir))
    assert len(live) < n_before
    # every segment the kept snapshot references survives, scans work
    assert set(t.current_snapshot()._segments) <= live
    assert t.scan().count() == 100


def test_properties_survive_branch_roundtrip(spark, warehouse):
    df = spark.range(100).select(F.col("id").alias("k"))
    t = IceTable(spark, warehouse + "/t")
    t.create(df, properties={"write.bloom.columns": "k"})
    t.create_branch("audit")
    b = t.branch("audit")
    assert b.properties() == {"write.bloom.columns": "k"}
    b.append(spark.range(100, 150).select(F.col("id").alias("k")))
    t.fast_forward("audit")
    # fast-forwarded commits carry the properties back onto main, and
    # the next main commit keeps inheriting them in slim format
    assert t.properties() == {"write.bloom.columns": "k"}
    t.append(spark.range(150, 160).select(F.col("id").alias("k")))
    assert t.properties() == {"write.bloom.columns": "k"}
    assert t.scan().count() == 160
