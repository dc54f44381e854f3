"""Incrementally-maintained aggregate materializations over the snapshot
table format's row-level changelog.

The reference exposes versioned tables and SQL over them (icerunner.py
scan/sql paths); at 100 TB the natural companion is a GROUP BY
materialization a pipeline can read instead of re-aggregating the fact
table — refreshed INCREMENTALLY from the CDC changelog, never by
rescanning the base. This is classic incremental view maintenance
restricted to the self-maintainable aggregates (COUNT / SUM, with AVG
derived): each changelog row contributes ``+value`` on insert and
``-value`` on delete, so one aggregation over the DELTA plus a keyed
upsert of the touched groups reproduces the full recompute exactly.

Scale shape: a refresh reads O(changed rows) (``scan_changelog`` IO is
added files + delete coordinates), shuffles only the delta (grouped on
the view keys, map-side combinable), joins the delta against the
materialization with a keyed equi-join (touched groups only on the
probe side), and commits ONE merge-on-read upsert of O(touched groups)
rows. Nothing is proportional to the base table after the initial
build. Groups whose row count reaches zero stay as tombstone rows
(``__mv_rows = 0``) filtered at read time — keeping the refresh a
single atomic commit (upsert-only) instead of upsert + delete, so a
crashed refresh either happened or didn't (the CDC cursor rides the
same commit's summary).

Maintained state per group: ``__mv_rows`` (COUNT(*)), and per requested
aggregate ``<name>`` (running SUM over non-null values, stored
coalesced to 0) plus ``<name>__nn`` (count of non-null contributions —
the SQL-semantics restorer: ``read()`` reports SUM as NULL when no
non-null value remains, and derives AVG as sum/nn).
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icerunner_spark.table import IceTable, NoSuchTableError

_CURSOR_KEY = "mv_cursor"


class IncrementalAggView:
    """A GROUP BY COUNT/SUM materialization of ``base``, stored as its
    own :class:`IceTable` at ``path`` and refreshed from
    ``base.scan_changelog`` deltas.

    ``sums`` maps output column name -> SQL expression over the base
    schema (numeric). COUNT(*) is always maintained. AVG(expr) is
    derived at read time from the (sum, non-null count) pair.
    """

    def __init__(
        self,
        base: IceTable,
        path: str,
        group_by: list[str],
        sums: dict[str, str] | None = None,
    ):
        if not group_by:
            raise ValueError("group_by requires at least one column")
        self.base = base
        self.keys = list(group_by)
        self.sums = dict(sums or {})
        # every maintained/output name must be distinct: group keys, sum
        # names, their __nn companions, the internal row counter, and
        # read()'s row_count output
        names = list(self.keys) + ["__mv_rows", "row_count"]
        for o in self.sums:
            names += [o, f"{o}__nn"]
        dupes = sorted({n for n in names if names.count(n) > 1})
        if dupes:
            raise ValueError(
                f"group keys / sum names collide with maintained columns: "
                f"{dupes}"
            )
        self.mv = IceTable(base.spark, path)

    # ---------- state ----------

    def cursor(self) -> int:
        """Base-table snapshot id the materialization reflects (stamped
        in the summary of every commit that moved it)."""
        cur = self.mv.current_snapshot()
        if cur is None:
            raise NoSuchTableError(self.mv.path)
        return self._cursor_from(cur)

    def _cursor_from(self, pinned) -> int:
        """Cursor as of the PINNED view snapshot — refresh derives both
        its read state and its conflict guard from the same pin, so a
        concurrent refresh committing in between cannot slip a newer
        state (and its already-applied delta) under this one. Every
        commit this class makes stamps the cursor, so the pinned
        snapshot almost always answers; the fallback walks the older
        history newest-first, across expired gaps, to the first stamp."""
        history = itertools.chain(
            (pinned,), self.mv._walk_history(pinned.sequence - 1)
        )
        for snap in history:
            if _CURSOR_KEY in (snap.summary or {}):
                return int(snap.summary[_CURSOR_KEY])
        raise NoSuchTableError(f"no materialization cursor at {self.mv.path}")

    def _agg_columns(self, sign=None):
        """The maintained aggregate columns; with ``sign`` (+1 insert /
        -1 delete) they aggregate a changelog delta instead of a full
        scan. Sums coalesce to 0 so 'no non-null contribution yet' is
        representable without nullable running totals."""
        if sign is None:
            rows = F.count(F.lit(1))
            val = {o: F.expr(e) for o, e in self.sums.items()}
            nn = {o: F.count(F.expr(e)) for o, e in self.sums.items()}
        else:
            rows = F.sum(sign)
            # a deleted row contributes the negated value; SUM ignores
            # nulls on both branches, matching SQL aggregate semantics
            val = {o: F.expr(e) * sign for o, e in self.sums.items()}
            nn = {
                o: F.coalesce(
                    F.sum(F.when(F.expr(e).isNotNull(), sign)), F.lit(0)
                )
                for o, e in self.sums.items()
            }
        cols = [rows.cast("long").alias("__mv_rows")]
        for o in self.sums:
            cols.append(F.coalesce(F.sum(val[o]), F.lit(0)).alias(o))
            cols.append(nn[o].cast("long").alias(f"{o}__nn"))
        return cols

    # ---------- build / refresh ----------

    def create(self, *, overwrite_ok: bool = False):
        """Full build at the base's current snapshot (the one O(base)
        pass; everything after is delta-sized)."""
        snap = self.base.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.base.path)
        agg = (
            self.base.scan(snapshot_id=snap.snapshot_id)
            .groupBy(*self.keys)
            .agg(*self._agg_columns())
        )
        return self.mv.create(
            agg,
            overwrite_ok=overwrite_ok,
            summary={_CURSOR_KEY: str(snap.snapshot_id)},
        )

    def refresh(self):
        """Advance the materialization to the base's current snapshot by
        applying the changelog since the cursor: one delta aggregation +
        one merge-on-read upsert of the touched groups (the cursor rides
        the same commit — a refresh is atomic). Returns the published
        snapshot, or None when already current.

        Raises ``ValueError`` if the range crosses an overwrite/rollback
        (no row-level diff exists) — call :meth:`full_refresh`.
        """
        # ONE pin drives the whole read-modify-write: cursor, state scan,
        # and conflict guard all come from mv_read — a concurrent
        # refresh landing anywhere in between makes the commit conflict
        # instead of double-applying the overlapping delta
        mv_read = self.mv.current_snapshot()
        if mv_read is None:
            raise NoSuchTableError(self.mv.path)
        start = self._cursor_from(mv_read)
        snap = self.base.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.base.path)
        if snap.snapshot_id == start:
            return None
        delta = self.base.scan_changelog(start, snap.snapshot_id)
        sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
            F.lit(-1)
        )
        d = delta.groupBy(*self.keys).agg(*self._agg_columns(sign=sign))
        cur = self.mv.scan(snapshot_id=mv_read.snapshot_id)
        # touched groups only: delta drives the join, existing state is
        # probed by key (null-safe — a NULL group key is a real group)
        merged = d.alias("d").join(
            cur.alias("m"),
            on=[
                F.col(f"d.{k}").eqNullSafe(F.col(f"m.{k}")) for k in self.keys
            ],
            how="left",
        )
        out_cols = [F.col(f"d.{k}").alias(k) for k in self.keys]
        out_cols.append(
            (
                F.coalesce(F.col("m.__mv_rows"), F.lit(0))
                + F.col("d.__mv_rows")
            ).cast("long").alias("__mv_rows")
        )
        for o in self.sums:
            out_cols.append(
                (F.coalesce(F.col(f"m.{o}"), F.lit(0)) + F.col(f"d.{o}")).alias(o)
            )
            out_cols.append(
                (
                    F.coalesce(F.col(f"m.{o}__nn"), F.lit(0))
                    + F.col(f"d.{o}__nn")
                ).cast("long").alias(f"{o}__nn")
            )
        # pin to the CREATE-time view schema: decimal addition widens
        # precision per-operation, but the materialization's declared sum
        # type is the contract (same as any engine's fixed SUM type)
        upserts = merged.select(*out_cols).select(
            *[F.col(f.name).cast(f.dataType) for f in self.mv.schema().fields]
        )
        return self.mv.merge(
            upserts,
            self.keys,
            mode="merge-on-read",
            null_safe=True,
            summary={_CURSOR_KEY: str(snap.snapshot_id)},
            require_parent_snapshot_id=mv_read.snapshot_id,
        )

    def full_refresh(self):
        """Rebuild from a full base scan (the overwrite/rollback escape
        hatch) as one atomic overwrite commit."""
        snap = self.base.current_snapshot()
        if snap is None:
            raise NoSuchTableError(self.base.path)
        agg = (
            self.base.scan(snapshot_id=snap.snapshot_id)
            .groupBy(*self.keys)
            .agg(*self._agg_columns())
        )
        return self.mv.overwrite(
            agg, summary={_CURSOR_KEY: str(snap.snapshot_id)}
        )

    # ---------- read ----------

    def read(self) -> DataFrame:
        """The view: group keys, row count, and each SUM with SQL null
        semantics restored (NULL when no non-null value remains); AVG is
        ``<name> / <name>__nn`` on the caller's side if wanted. Tombstone
        groups (all rows deleted) are filtered out."""
        df = self.mv.scan().where(F.col("__mv_rows") > 0)
        cols = [F.col(k) for k in self.keys] + [F.col("__mv_rows").alias("row_count")]
        for o in self.sums:
            cols.append(
                F.when(F.col(f"{o}__nn") > 0, F.col(o)).alias(o)
            )
        return df.select(*cols)
