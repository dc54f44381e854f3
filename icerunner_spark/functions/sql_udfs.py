"""Engine functions exposed to the SQL surface as Spark 4 SQL UDFs.

The reference's ``sql()`` verb (icerunner.py:200-207) hands users raw
DuckDB SQL; our passthrough (Connector.sql / the Flight ``{"sql": ...}``
ticket / the ``sql`` CLI verb) plans through Spark SQL — and these
CREATE TEMPORARY FUNCTION declarations put the engine's text/vector
primitives in scope there, so a remote client can write
``SELECT ice_token_count(text) FROM docs`` without any DataFrame API.

SQL UDFs are EXPRESSION MACROS, not Python: Catalyst inlines the body at
analysis, so every one of these runs inside whole-stage codegen on
executors — identical plans (and identical results, pinned in tests) to
the Column-builder originals in functions/text.py / functions/vector.py
they mirror. No BatchEvalPython ever appears; the 100 TB scan-speed
story of the originals carries over verbatim.

Temporary functions are session-scoped, so registration runs once per
SparkSession: ``Connector.sql_df`` (behind the Flight server's SQL
tickets and the CLI verb) calls :func:`register_sql_functions` on every
statement, and every call after the session's first is one catalog
lookup with no DDL.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from icerunner_spark.functions.text import PII_PATTERNS

_TOKEN_RE_SQL = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\\\s]"


def _redact_chain() -> str:
    expr = "t"
    for _, pat, repl in PII_PATTERNS:
        p = pat.replace("\\", "\\\\").replace("'", "''")
        expr = f"regexp_replace({expr}, '{p}', '{repl}')"
    return expr


def _statements() -> list[str]:
    arr = "ARRAY<DOUBLE>"
    dot = (
        "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
    )
    norm = "sqrt(aggregate({v}, 0.0D, (acc, x) -> acc + x * x))"
    na, nb = norm.format(v="a"), norm.format(v="b")
    return [
        # text primitives (functions/text.py twins)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION ice_tokens(t STRING)
            RETURNS ARRAY<STRING>
            RETURN regexp_extract_all(lower(t), '{_TOKEN_RE_SQL}', 0)""",
        f"""CREATE OR REPLACE TEMPORARY FUNCTION ice_token_count(t STRING)
            RETURNS INT
            RETURN regexp_count(lower(t), '{_TOKEN_RE_SQL}')""",
        """CREATE OR REPLACE TEMPORARY FUNCTION ice_normalize_ws(t STRING)
            RETURNS STRING
            RETURN lower(regexp_replace(t, '\\\\s+', ' '))""",
        """CREATE OR REPLACE TEMPORARY FUNCTION ice_fingerprint64(t STRING)
            RETURNS BIGINT
            RETURN xxhash64(lower(regexp_replace(t, '\\\\s+', ' ')))""",
        f"""CREATE OR REPLACE TEMPORARY FUNCTION ice_redact_pii(t STRING)
            RETURNS STRING
            RETURN {_redact_chain()}""",
        """CREATE OR REPLACE TEMPORARY FUNCTION
            ice_md5_bucket(k STRING, salt STRING)
            RETURNS STRING
            RETURN substring(md5(concat(k, '-', salt)), 1, 8)""",
        # vector primitives (functions/vector.py twins)
        f"""CREATE OR REPLACE TEMPORARY FUNCTION ice_dot(a {arr}, b {arr})
            RETURNS DOUBLE
            RETURN {dot}""",
        f"""CREATE OR REPLACE TEMPORARY FUNCTION ice_cos_sim(a {arr}, b {arr})
            RETURNS DOUBLE
            RETURN CASE WHEN {na} > 0 AND {nb} > 0
                        THEN {dot} / ({na} * {nb}) END""",
    ]


def register_sql_functions(spark: SparkSession) -> None:
    """Install the ice_* SQL function surface in this session unless it
    is there already. The check is a catalog lookup of the function the
    last statement creates, so an interrupted registration runs again;
    the DDL costs hundreds of milliseconds per call, the lookup a few.
    A new session (``spark.newSession()``) has its own temporary
    functions and registers them on its first call."""
    if spark.catalog.functionExists("ice_cos_sim"):
        return
    for stmt in _statements():
        spark.sql(stmt)
