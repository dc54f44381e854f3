"""Tables whose snapshot files carry the per-dir layout maps inline, the
way slim (format 2) snapshot files were written before each commit dir's
layout record moved into the manifest segment that carries its files.

``layout_rich_table`` builds a table on which the physical-name mapping,
the partition spec and the commit sequence of its dirs each change the
rows a scan returns; ``rewrite_with_inline_maps`` turns its log into the
older layout: every slim snapshot file gains ``to_json()``'s three maps
and every segment loses its layout records."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

import icerunner_spark.table as table_mod
from icerunner_spark.table import IceTable

MAP_KEYS = ("file_mappings", "dir_seqs", "dir_specs")


def layout_rich_table(spark, path: str) -> IceTable:
    """``k``, ``w`` (written as ``v``), ``p``. The first dir is written
    under spec ``["p"]`` before the table turns unpartitioned, so its
    ``p`` lives only in the hive path; ``v`` is renamed to ``w``; key 1
    is equality-deleted and re-inserted, so the re-insert survives only
    through its dir's sequence."""
    t = IceTable(spark, path)
    t.create(
        spark.range(6).select(
            F.col("id").alias("k"),
            F.concat(F.lit("a"), F.col("id")).alias("v"),
            F.when(F.col("id") % 2 == 0, "x").otherwise("y").alias("p"),
        ),
        partition_by=["p"],
    )
    t.rename_column("v", "w")
    t.update_partition_spec([])
    t.append(more_rows(spark, 6, 9))
    t.delete_rows(spark.createDataFrame([(1,)], "k long"), ["k"], mode="equality")
    t.append(more_rows(spark, 1, 2, tag="b"))
    return t


def more_rows(spark, lo: int, hi: int, tag: str = "c"):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit(tag), F.col("id")).alias("w"),
        F.lit("z").alias("p"),
    )


def rows(df) -> list:
    return sorted(tuple(r) for r in df.select("k", "w", "p").collect())


def rewrite_with_inline_maps(t: IceTable) -> None:
    """Rewrite every slim snapshot file of ``t``'s log with its per-dir
    maps inline and strip the layout records from every segment."""
    names = [
        f for f in os.listdir(t.metadata_dir)
        if f.startswith("snap-") and f.endswith(".json")
    ]
    texts = {}
    for name in names:
        snap = t._load_snapshot_by_seq(int(name[len("snap-"):-len(".json")]))
        path = os.path.join(t.metadata_dir, name)
        with open(path) as f:
            d = json.load(f)
        full = json.loads(snap.to_json())
        d.update({k: full[k] for k in MAP_KEYS})
        texts[path] = json.dumps(d)
    for path, text in texts.items():
        with open(path, "w") as f:
            f.write(text)
    seg_dir = t._segments_dir()
    for name in os.listdir(seg_dir):
        path = os.path.join(seg_dir, name)
        with open(path) as f:
            seg = json.load(f)
        seg.pop("layouts", None)
        with open(path, "w") as f:
            json.dump(seg, f)
    table_mod._snapshot_cache.clear()
    table_mod._seg_cache.clear()


def carries_maps(path: str) -> bool:
    with open(path) as f:
        d = json.load(f)
    return any(k in d for k in MAP_KEYS)
