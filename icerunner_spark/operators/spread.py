"""Fixture-parallelism spread, gated on detected under-parallelism.

Compact fixture tables (a few MB of parquet holding a whole corpus
slice) scan as fewer partitions than cores — often ONE task, since
parquet splits cannot cross a row group — which serializes
scan-disproportionate per-row work (shingle builds, regex chains,
vector normalization). An unconditional
``repartition(defaultParallelism, key)`` fixes that at the fixtures but
hurts at the 100 TB design point: the exchanged payload is the document
text / embedding itself, so it adds a corpus-sized exchange AND caps
the stage at core-count partitions on a scan that already has
thousands of splits.

``spread_if_narrow`` keeps the fixture win and removes the scale cost:
it repartitions ONLY when the input scan yields fewer partitions than
``defaultParallelism``. The partition probe (``df.rdd.getNumPartitions``)
plans the scan on the driver but runs no job; when the input is already
>= cores partitions the frame is returned untouched — no exchange
exists to pay, and the scan's own (wider) partitioning is kept.
Results are unchanged either way: partitioning never alters rows.

Keyed when a key column is given (skips the keyless form's
sortBeforeRepartition local sort, guide §2.5); round-robin otherwise
(callers whose downstream needs balance, not co-location).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from icerunner_spark.plans import is_costly_lineage


def spread_if_narrow(df: DataFrame, *key: str) -> DataFrame:
    # Probe partitioning ONLY for scan-shaped lineages. Two reasons the
    # probe must not run on anything else: (a) under AQE, ``df.rdd``
    # MATERIALIZES every non-result query stage — on a join/aggregate
    # lineage the probe would eagerly execute the caller's subquery once
    # extra (observed on incremental_neardup_cdc's candidate semi-join);
    # (b) a post-exchange frame already carries the session's shuffle
    # width — the single-task problem this helper exists for is a
    # property of narrow SCANS. For non-trivial lineages the frame is
    # returned untouched.
    if is_costly_lineage(df):
        return df
    cores = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= cores:
        return df
    if key:
        return df.repartition(cores, *key)
    return df.repartition(cores)
