"""Emulate the driver's correctness harness: a VANILLA SparkSession (none
of session.py's confs) running every queries() entry at sf0.01, compared
against oracle_sql() via DuckDB where present, rows-only otherwise.
Every status line that collected rows carries ``sha256=`` of the sorted
rows, so two runs (say, before and after a refactor) diff entry by entry,
rows-only entries included.

Run manually: python tests/driver_emulation.py [pattern]

This exists because round 1 lost 6 CORRECTNESS rows to a session-conf
dependency (nanosAsLong) that the builder's own session masked. Any conf
a query needs must be set by the engine code itself, not the session
factory — this script is the regression gate for that class of bug.
"""

from __future__ import annotations

import hashlib
import os
import re
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def rows_digest(rows: list[dict]) -> str:
    """sha256 over the rows' reprs, sorted: order-free, bit-exact on
    doubles (repr round-trips)."""
    h = hashlib.sha256()
    for line in sorted(repr(r) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    pattern = sys.argv[1] if len(sys.argv) > 1 else ""
    sf_dir = os.environ.get("EMUL_SF_DIR", "/root/testdata/sf0.01")
    # Deliberately vanilla: mirrors the driver harness, NOT session.py.
    # EMUL_MASTER / EMUL_SHUFFLE let CI sweep adversarial configs (odd
    # core/partition counts shake out partition-order nondeterminism that
    # a fixed local[8]/8 would mask).
    spark = (
        SparkSession.builder.master(os.environ.get("EMUL_MASTER", "local[8]"))
        .appName("driver_emulation")
        .config(
            "spark.sql.shuffle.partitions", os.environ.get("EMUL_SHUFFLE", "8")
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "6g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from icerunner_spark import queries as q
    from tests.oracle_harness import compare, compare_types, run_oracle_typed

    qs = q.queries()
    oracles = q.oracle_sql()
    failed: list[str] = []
    for name in sorted(qs):
        if pattern and not re.search(pattern, name):
            continue
        try:
            sdf = qs[name](spark, sf_dir)
            rows = [r.asDict(recursive=True) for r in sdf.collect()]
            if name in oracles:
                orows, otypes = run_oracle_typed(oracles[name], sf_dir)
                ok, msg = compare_types(sdf.schema, otypes)
                if ok:
                    ok, msg = compare(rows, orows)
                status = "pass" if ok else f"HASH-FAIL {msg}"
            else:
                ok = True
                status = f"rows-only ({len(rows)} rows)"
            status += f" sha256={rows_digest(rows)}"
        except Exception as exc:  # noqa: BLE001 - harness surface
            ok = False
            status = f"ERROR {type(exc).__name__}: {exc}"
            traceback.print_exc(limit=3)
        if not ok:
            failed.append(name)
        print(f"{'OK ' if ok else 'BAD'} {name}: {status}", flush=True)
        spark.catalog.clearCache()
    print(f"\n{len(failed)} failures: {failed}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
