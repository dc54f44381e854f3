"""Persisted IVF index over an embeddings table, maintained incrementally
from the CDC changelog.

The per-query ANN operators (operators.similarity) re-derive their index
every run; at 100 TB the index must be a TABLE — built once, stored
partitioned by IVF cell, and advanced from the base table's row-level
changelog instead of re-assigned from scratch. This class stores the
index as its own :class:`IceTable`:

- **layout**: one row per vector ``(id, cell, embedding)``, identity-
  partitioned by ``cell`` — probing ``n_probe`` cells is partition
  pruning at PLANNING time, the scan never touches the other cells'
  files;
- **centroids**: trained once at build (deterministic seeded k-means,
  operators.similarity._deterministic_centroids) and pinned in the index
  table's properties — refreshes assign against the SAME centroids, so
  index snapshots stay mutually comparable (rebuild() retrains);
- **refresh**: reads ``scan_changelog`` since the stored cursor —
  deleted vectors leave via an O(keys) equality delete, new vectors
  assign (Arrow-batched matmul) and merge-on-read upsert in, and the
  cursor rides the upsert commit's summary. Cost is O(changed rows),
  never O(corpus). A crash between the two commits replays safely: the
  cursor only advances on the final commit and both operations are
  idempotent for the same delta.

Query-side, ``topk`` is one more candidate generator in front of the
exact rescore every similarity top-k shares
(operators.similarity._rescore): the probed cells' partitions are the
candidates. With ``n_probe = n_centroids`` the result is EXACT (equals
brute force over the base table) — the property the oracle-paired
registry query pins, while recall at partial probe is pinned in tests.
"""

from __future__ import annotations

import itertools
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icerunner_spark.operators.similarity import (
    _as_double_array,
    _deterministic_centroids,
    _nearest_cells,
    _rescore,
    ivf_assign,
)
from icerunner_spark.table import IceTable, NoSuchTableError

_CURSOR_KEY = "ann_cursor"
_CENTROIDS_PROP = "ann.centroids"


class IncrementalAnnIndex:
    def __init__(
        self,
        base: IceTable,
        path: str,
        *,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        n_centroids: int = 16,
    ):
        self.base = base
        self.id_col = id_col
        self.vec_col = vec_col
        self.n_centroids = n_centroids
        self.index = IceTable(base.spark, path)

    # ---------- state ----------

    def centroids(self) -> list[list[float]]:
        props = self.index.properties()
        if _CENTROIDS_PROP not in props:
            raise NoSuchTableError(f"no ANN index at {self.index.path}")
        return json.loads(props[_CENTROIDS_PROP])

    def cursor(self) -> int:
        cur = self.index.current_snapshot()
        if cur is None:
            raise NoSuchTableError(self.index.path)
        return self._cursor_from(cur)

    def _cursor_from(self, pinned) -> int:
        """Cursor as of the PINNED index snapshot (refresh anchors its
        conflict guards on the same pin), falling back to the older
        history newest-first, across expired gaps."""
        history = itertools.chain(
            (pinned,), self.index._walk_history(pinned.sequence - 1)
        )
        for snap in history:
            if _CURSOR_KEY in (snap.summary or {}):
                return int(snap.summary[_CURSOR_KEY])
        raise NoSuchTableError(f"no ANN cursor at {self.index.path}")

    def _assigned(self, df: DataFrame, cents) -> DataFrame:
        return ivf_assign(
            df.select(
                F.col(self.id_col), _as_double_array(self.vec_col).alias(self.vec_col)
            ),
            cents,
            vec_col=self.vec_col,
            cell_col="cell",
        ).select(self.id_col, "cell", self.vec_col)

    # ---------- build / refresh ----------

    def build(self, *, overwrite_ok: bool = False, lloyd_iters: int = 2):
        """Train centroids and materialize the full assignment — the one
        O(corpus) pass; every refresh after is delta-sized."""
        snap = self.base.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.base.path)
        df = self.base.scan(snapshot_id=snap.snapshot_id)
        cents = _deterministic_centroids(
            df,
            vec_col=self.vec_col,
            id_col=self.id_col,
            n_centroids=self.n_centroids,
            lloyd_iters=lloyd_iters,
        )
        return self.index.create(
            self._assigned(df, cents),
            overwrite_ok=overwrite_ok,
            partition_by=["cell"],
            summary={_CURSOR_KEY: str(snap.snapshot_id)},
            properties={
                _CENTROIDS_PROP: json.dumps(cents),
                # one shuffle clusters each cell's vectors into its own
                # partition dir instead of tasks x cells small files
                "write.distribution-mode": "hash",
            },
        )

    def refresh(self):
        """Advance the index to the base's current snapshot from the
        changelog: equality-delete departed ids (O(keys), no index
        read), assign + merge-on-read upsert arrivals, cursor on the
        final commit. Returns that snapshot, or None when current."""
        # ONE pin drives the whole read-modify-write: the cursor and the
        # conflict guards on BOTH commits chain from idx_read, so a
        # concurrent refresher landing anywhere in the span conflicts
        # instead of moving the cursor backwards / interleaving rows
        idx_read = self.index.current_snapshot()
        if idx_read is None:
            raise NoSuchTableError(self.index.path)
        start = self._cursor_from(idx_read)
        snap = self.base.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.base.path)
        if snap.snapshot_id == start:
            return None
        from pyspark.sql import Window

        cents = self.centroids()
        # per-id LAST change decides (ordinal = producing snapshot's
        # sequence; inserts outrank deletes at equal ordinal): an id
        # appended then deleted in-range nets to a removal, deleted then
        # re-inserted nets to an upsert — distinct-set logic gets both
        # of those wrong
        delta = self.base.scan_changelog(
            start, snap.snapshot_id, with_ordinal=True
        )
        w = Window.partitionBy(self.id_col).orderBy(
            F.desc("_change_ordinal"),
            F.desc(F.col("_change_type") == "insert"),
        )
        last = (
            delta.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .persist()
        )
        try:
            gone = last.filter(F.col("_change_type") == "delete").select(
                self.id_col
            )
            expected = idx_read.snapshot_id
            if gone.limit(1).count():
                dsnap = self.index.delete_rows(
                    gone, [self.id_col], mode="equality",
                    require_parent_snapshot_id=expected,
                )
                if dsnap is not None:
                    expected = dsnap.snapshot_id
            arrivals = self._assigned(
                last.filter(F.col("_change_type") == "insert").select(
                    self.id_col, self.vec_col
                ),
                cents,
            )
            return self.index.merge(
                arrivals,
                [self.id_col],
                mode="merge-on-read",
                summary={_CURSOR_KEY: str(snap.snapshot_id)},
                require_parent_snapshot_id=expected,
            )
        finally:
            last.unpersist()

    # ---------- query ----------

    def topk(
        self, query_vec: list[float], *, k: int = 10, n_probe: int | None = None
    ) -> DataFrame:
        """Top-k by cosine over the probed cells. The cell filter is an
        identity-partition predicate, so non-probed cells prune at
        planning (zero IO). ``n_probe=None`` probes everything — exact
        search through the index, the oracle-comparable mode."""
        cents = self.centroids()
        probed = (
            _nearest_cells(query_vec, cents, len(cents) if n_probe is None else n_probe)
            if cents
            else []
        )
        df = (
            self.index.scan(where=[("cell", "in", probed)])
            if len(probed) < len(cents)
            else self.index.scan()
        )
        return _rescore(
            df, query_vec, vec_col=self.vec_col, id_cols=(self.id_col,), k=k
        )
