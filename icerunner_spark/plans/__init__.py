"""Physical-plan introspection (SURVEY.md §4).

The reference has zero optimizer code — everything it "optimizes" lives
inside DuckDB behind ``con.execute`` (icerunner.py:184,194,204). On Spark
the optimizer is Catalyst, so the engineering burden inverts: instead of
writing rules, we *verify* that the declarative plans hit the physical
properties that matter at 100 TB — filters pushed into the parquet scan,
columns pruned, small dims broadcast, whole-stage codegen covering the
hot path. This package turns ``df.explain`` output into a structured
report so tests can pin those properties per query.
"""

from icerunner_spark.plans.introspect import (
    explain_text,
    is_costly_lineage,
    plan_report,
)

__all__ = ["explain_text", "is_costly_lineage", "plan_report"]
