"""Incremental ANN index: a persisted IVF index table that stays exact
(at full probe) with its base through CDC-driven refreshes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icerunner_spark.functions.vector import cosine_similarity
from icerunner_spark.operators.ann_index import IncrementalAnnIndex
from icerunner_spark.sources.testdata import load_table
from icerunner_spark.table import IceTable


def _emb(spark):
    return load_table(spark, "embeddings", "/root/testdata/sf0.001").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )


def _qvec(spark):
    row = _emb(spark).filter(F.col("vec_id") == 0).first()
    return [float(x) for x in row["embedding"]]


def _brute_ids(base: IceTable, qvec, k=10):
    qarr = F.array(*[F.lit(x) for x in qvec])
    return [
        r["vec_id"]
        for r in base.scan()
        .select(
            "vec_id", cosine_similarity(F.col("embedding"), qarr).alias("s")
        )
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(k)
        .collect()
    ]


def test_build_full_probe_equals_brute_force(spark, warehouse):
    emb = _emb(spark)
    base = IceTable(spark, warehouse + "/base")
    base.create(emb.filter(F.col("vec_id") % 2 == 0))
    idx = IncrementalAnnIndex(base, warehouse + "/idx", n_centroids=8)
    idx.build()
    q = _qvec(spark)
    got = [r["vec_id"] for r in idx.topk(q, k=10, n_probe=None).collect()]
    assert got == _brute_ids(base, q)
    # cell partitioning prunes at planning for partial probes
    total = len(idx.index.current_snapshot().manifest)
    probed = len(idx.index.plan_files([("cell", "in", [0, 1])]))
    assert probed < total


def test_refresh_tracks_appends_upserts_and_deletes(spark, warehouse):
    emb = _emb(spark)
    base = IceTable(spark, warehouse + "/base")
    base.create(emb.filter(F.col("vec_id") % 2 == 0))
    idx = IncrementalAnnIndex(base, warehouse + "/idx", n_centroids=8)
    idx.build()

    # append odd ids, delete a slice, and upsert flipped vectors for a
    # few ids -> ONE refresh covers all three
    base.append(emb.filter(F.col("vec_id") % 2 == 1))
    base.delete_where("vec_id % 7 = 0 AND vec_id > 0", mode="merge-on-read")
    flipped = base.scan().filter(F.col("vec_id") % 11 == 3).withColumn(
        "embedding", F.transform(F.col("embedding"), lambda x: -x)
    )
    base.merge(flipped, ["vec_id"], mode="merge-on-read")
    snap = idx.refresh()
    assert snap is not None
    assert idx.cursor() == base.current_snapshot().snapshot_id
    assert idx.refresh() is None  # no-op when current

    # the index is now value-identical to the base: same ids, and full-
    # probe search equals brute force over the CURRENT base state
    assert idx.index.scan().count() == base.scan().count()
    per_id = idx.index.scan().groupBy("vec_id").count()
    assert per_id.filter(F.col("count") > 1).count() == 0
    q = _qvec(spark)
    got = [r["vec_id"] for r in idx.topk(q, k=10, n_probe=None).collect()]
    assert got == _brute_ids(base, q)

    # partial probe: bounded candidates, sane recall against exact
    part = [r["vec_id"] for r in idx.topk(q, k=10, n_probe=3).collect()]
    exact = set(_brute_ids(base, q))
    assert len(set(part) & exact) >= 4  # recall@10 >= 0.4 at 3/8 cells
    probed_files = len(idx.index.plan_files([("cell", "in", [0, 1, 2])]))
    assert probed_files < len(idx.index.current_snapshot().manifest)


def test_second_refresh_cycle_stays_incremental(spark, warehouse):
    emb = _emb(spark)
    base = IceTable(spark, warehouse + "/base")
    base.create(emb.filter(F.col("vec_id") < 100))
    idx = IncrementalAnnIndex(base, warehouse + "/idx", n_centroids=4)
    idx.build()
    for lo, hi in ((100, 200), (200, 300)):
        base.append(emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)))
        base.delete_where(f"vec_id % 13 = 5 AND vec_id < {hi}", mode="merge-on-read")
        idx.refresh()
        q = _qvec(spark)
        got = [r["vec_id"] for r in idx.topk(q, k=5, n_probe=None).collect()]
        assert got == _brute_ids(base, q, k=5)


def test_topk_rejects_wrong_query_dimension(spark, warehouse):
    """A wrong-length query used to rank cells on a truncating zip (or,
    at full probe, score every row NULL and return k arbitrary ids)."""
    base = IceTable(spark, warehouse + "/base")
    base.create(
        spark.createDataFrame(
            [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(6)],
            "vec_id long, embedding array<double>",
        )
    )
    idx = IncrementalAnnIndex(base, warehouse + "/idx", n_centroids=2)
    idx.build(lloyd_iters=0)
    for n_probe in (None, 1):
        with pytest.raises(ValueError, match=r"dimension 3 .* dimension 4"):
            idx.topk([1.0, 0.0, 2.0], k=3, n_probe=n_probe)
