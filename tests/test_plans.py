"""Physical-plan assertions (icerunner_spark/plans): the scale properties
the 100 TB design depends on must hold in the actual Catalyst plans —
filter pushdown into parquet scans, column pruning, broadcast joins for
dims, codegen coverage. A regression here is a performance bug even when
results stay correct."""

from __future__ import annotations

from pyspark.sql import functions as F

from icerunner_spark import queries as q
from icerunner_spark.plans import plan_report
from icerunner_spark.queries import _spread_if_narrow, queries
from icerunner_spark.sources.testdata import load_table
from icerunner_spark.table import _materialize_if_costly

SF = "/root/testdata/sf0.01"
SF_SMALL = SF.replace("sf0.01", "sf0.001")


def _report(spark, name):
    return plan_report(q.queries()[name](spark, SF))


def test_q6_filters_pushed_and_columns_pruned(spark):
    r = _report(spark, "q6_revenue_forecast")
    scan = r.scan_for("lineitem.parquet")
    assert scan is not None
    # all four predicates reach the scan
    pushed = " ".join(scan.pushed_filters)
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, f"{frag} not pushed: {pushed}"
    # 16-column fact table, 4-column read
    assert set(scan.read_columns) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate",
    }
    assert r.joins == []


def test_q3_broadcasts_dims(spark):
    r = _report(spark, "q3_shipping_priority")
    # customer (filtered dim) and orders side must broadcast — no
    # sort-merge join anywhere in this plan at these sizes
    assert r.join_strategies == {"BroadcastHashJoin"}
    cust = r.scan_for("customer.parquet")
    assert cust is not None and len(cust.read_columns) == 2
    assert any("c_mktsegment" in f for f in cust.pushed_filters)


def test_q5_five_way_join_all_broadcast(spark):
    r = _report(spark, "q5_region_revenue")
    assert r.join_strategies == {"BroadcastHashJoin"}
    assert len(r.joins) == 5
    # the fact scan reads only join keys + money columns
    li = r.scan_for("lineitem.parquet")
    assert li is not None and len(li.read_columns) <= 4


def test_semi_join_stays_semi(spark):
    r = _report(spark, "semi_join_customers_with_open_orders")
    assert "LeftSemi" in r.text or "left_semi" in r.text.lower()


def test_dedup_fingerprint_single_shuffle(spark):
    """Exact dedup = one hash-agg shuffle on the 8-byte fingerprint; the
    document text column must not be read past the projection."""
    r = _report(spark, "dedup_exact_fingerprint")
    assert r.n_exchanges <= 1, r.text
    scan = r.scan_for("documents.parquet")
    assert scan is not None
    assert "doc_id" in scan.read_columns and "text" in scan.read_columns
    assert "source" not in scan.read_columns  # pruned


def test_codegen_covers_agg_queries(spark):
    # codegen ids only appear in the AQE *final* plan, so execute first
    for name in ("q1_pricing_summary", "q6_revenue_forecast"):
        r = plan_report(q.queries()[name](spark, SF), execute=True)
        assert r.codegen_stages >= 1, f"{name} has no codegen span"


def test_projection_prunes_to_scan(spark):
    """A 2-column projection over the 16-column lineitem must scan 2."""
    li = load_table(spark, "lineitem", SF).select("l_orderkey", "l_quantity")
    r = plan_report(li)
    scan = r.scan_for("lineitem.parquet")
    assert scan is not None
    assert set(scan.read_columns) == {"l_orderkey", "l_quantity"}


def test_limit_does_not_full_scan(spark):
    df = load_table(spark, "lineitem", SF).limit(5)
    r = plan_report(df)
    assert "GlobalLimit" in r.text or "CollectLimit" in r.text


def test_broadcast_hint_respected(spark):
    small = load_table(spark, "nation", SF)
    big = load_table(spark, "customer", SF)
    j = big.join(F.broadcast(small), big.c_nationkey == small.n_nationkey)
    r = plan_report(j)
    assert "BroadcastHashJoin" in r.join_strategies


def test_partition_pruning_on_date_layout(spark, tmp_path):
    """Date-partitioned layout (sources/layout.py): a one-day filter must
    prune to that day's partition at planning time."""
    from icerunner_spark.sources.layout import (
        read_partitioned,
        with_date_partition,
        write_partitioned,
    )

    events = load_table(spark, "events", SF)
    path = str(tmp_path / "events_by_date")
    write_partitioned(
        with_date_partition(events, "ts"), path, partition_by=["p_date"]
    )
    day = read_partitioned(spark, path).filter(F.col("p_date") == "2024-01-05")
    r = plan_report(day)
    # partition filter present, and NOT as a pushed data filter
    assert "PartitionFilters" in r.text
    assert "p_date" in r.text.split("PartitionFilters", 1)[1].split("\n")[0]
    # correctness of the pruned read
    expect = events.filter(F.to_date("ts") == "2024-01-05").count()
    assert day.count() == expect and expect > 0


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key must sort-merge join with no
    Exchange on either side — the co-located-join layout for 100 TB
    facts (sources/layout.py write_bucketed)."""
    from icerunner_spark.sources.layout import write_bucketed

    cust = load_table(spark, "customer", SF)
    orders = load_table(spark, "orders", SF)
    write_bucketed(
        cust, "cust_bkt", bucket_by=["c_custkey"], n_buckets=8,
        sort_by=["c_custkey"], path=str(tmp_path / "cust_bkt"),
    )
    write_bucketed(
        orders, "ord_bkt", bucket_by=["o_custkey"], n_buckets=8,
        sort_by=["o_custkey"], path=str(tmp_path / "ord_bkt"),
    )
    try:
        c = spark.table("cust_bkt").hint("merge")
        o = spark.table("ord_bkt").hint("merge")
        j = c.join(o, c.c_custkey == o.o_custkey).select(
            "c_custkey", "o_orderkey", "o_totalprice"
        )
        r = plan_report(j)
        assert "SortMergeJoin" in r.join_strategies
        assert r.n_exchanges == 0, f"bucketed join still shuffles:\n{r.text}"
        # sanity: the join actually returns the equi-join cardinality
        expect = cust.join(orders, cust.c_custkey == orders.o_custkey).count()
        assert j.count() == expect
    finally:
        spark.sql("DROP TABLE IF EXISTS cust_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_sql_functions_register_once_per_session(spark, warehouse, monkeypatch):
    """Connector.sql_df registers the ice_* SQL functions once per
    SparkSession: a second statement in the session issues no CREATE
    ... FUNCTION, and a new session still resolves them."""
    from icerunner_spark.connector import Connector

    c = Connector(spark, warehouse)
    c.sql_df("SELECT 1")
    statements = []
    real_sql = spark.sql

    def spy(query, *args, **kwargs):
        statements.append(query)
        return real_sql(query, *args, **kwargs)

    monkeypatch.setattr(spark, "sql", spy)
    c.sql_df("SELECT ice_token_count('a b') AS n")
    assert statements and not any("FUNCTION" in s.upper() for s in statements)
    monkeypatch.undo()

    other = spark.newSession()
    assert not other.catalog.functionExists("ice_token_count")
    got = Connector(other, warehouse).sql_df("SELECT ice_token_count('a b') AS n")
    assert got.collect()[0]["n"] == 2


def test_sql_udfs_inline_and_match_column_builders(spark):
    """Spark 4 SQL UDFs (functions/sql_udfs.py) are expression macros:
    Catalyst inlines the bodies (no Python eval operator in the plan),
    and every ice_* function computes bit-identically to the
    functions/text.py / functions/vector.py Column builder it mirrors."""
    import pyspark.sql.functions as F

    from icerunner_spark.functions.sql_udfs import register_sql_functions
    from icerunner_spark.functions.text import (
        fingerprint64,
        md5_bucket,
        redact_pii,
        token_count,
    )
    from icerunner_spark.functions.vector import cosine_similarity
    from icerunner_spark.sources.testdata import load_table

    register_sql_functions(spark)
    d = load_table(spark, "documents", "/root/testdata/sf0.001")
    d.createOrReplaceTempView("plans_docs")
    got = spark.sql(
        "SELECT doc_id, ice_token_count(text) AS n, "
        "ice_fingerprint64(text) AS fp, ice_redact_pii(text) AS red, "
        "ice_md5_bucket(CAST(doc_id AS STRING), 's') AS b "
        "FROM plans_docs"
    )
    assert "BatchEvalPython" not in got._jdf.queryExecution().executedPlan().toString()
    want = d.select(
        "doc_id",
        token_count("text").alias("n"),
        fingerprint64("text").alias("fp"),
        redact_pii("text").alias("red"),
        md5_bucket(F.col("doc_id"), "s").alias("b"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))

    e = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    e.select(F.col("embedding").cast("array<double>").alias("v")).limit(
        50
    ).createOrReplaceTempView("plans_vecs")
    got = spark.sql(
        "SELECT ice_cos_sim(v, reverse(v)) AS c FROM plans_vecs"
    ).collect()
    want = (
        spark.table("plans_vecs")
        .select(cosine_similarity(F.col("v"), F.reverse(F.col("v"))).alias("c"))
        .collect()
    )
    assert [r["c"] for r in got] == [r["c"] for r in want]


def test_decontam_semantic_no_pair_frame(spark):
    """decontam_semantic_overlap must score + argmax inside ONE
    Arrow-batched stage: no Window over a pair frame (the r5 defect), no
    exchange at ANY cardinality (the corpus never reshuffles; the eval
    side is a collected closure matrix), no join — the executed plan is
    scan -> MapInPandas -> filter. History: r6's map-side max(struct)
    was shuffle-optimal but paid ~26 us/pair in expression folds; the r7
    sf1 probe measured 362 s where the matmul takes ~1 s."""
    df = q.queries()["decontam_semantic_overlap"](spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan, plan
    assert "Window" not in plan, plan
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan
    # row-at-a-time Python remains banned here like everywhere else
    assert "BatchEvalPython" not in plan, plan


# --------------------------------------------------------------------------- #
# plan-shape gates: both must be INVISIBLE in results
#
# - ``queries._spread_if_narrow``: the fixture-parallelism spreads
#   (pii_redact / decontam_eval / url_canonical) must still fire on the
#   single-row-group fixtures but be SKIPPED when the input scan already
#   carries >= cores partitions — an unconditional spread of a
#   (doc_id, text) projection is a corpus-sized exchange at 100 TB.
# - ``table._materialize_if_costly``: the merge paths' eager
#   localCheckpoints must fire only for non-trivial lineages (joins,
#   aggregates, ...); a filter-shaped delta is cheaper to recompute than
#   to materialize, and eagerly pinning a scan-shaped frame is unbounded.
# --------------------------------------------------------------------------- #


def _docs_like(spark, n_partitions: int):
    return (
        spark.range(0, 200, 1, n_partitions)
        .select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text "), F.col("id")).alias("text"),
        )
    )


def test_spread_fires_on_narrow_input(spark):
    cores = spark.sparkContext.defaultParallelism
    narrow = _docs_like(spark, 1)
    out = _spread_if_narrow(narrow, "doc_id")
    assert out is not narrow
    assert out.rdd.getNumPartitions() == cores
    # keyed, not round-robin: no sortBeforeRepartition surprise
    assert "RepartitionByExpression" in out._jdf.queryExecution().optimizedPlan().toString()


def test_spread_skipped_on_wide_input(spark):
    cores = spark.sparkContext.defaultParallelism
    wide = _docs_like(spark, cores + 2)
    out = _spread_if_narrow(wide, "doc_id")
    assert out is wide  # untouched plan: no exchange exists to pay


def test_spread_results_identical_both_ways(spark):
    narrow = _docs_like(spark, 1)
    spread = _spread_if_narrow(narrow, "doc_id")
    a = sorted(tuple(r) for r in narrow.collect())
    b = sorted(tuple(r) for r in spread.collect())
    assert a == b


def test_fixture_queries_still_spread(spark):
    """At the sf fixtures (single-row-group parquet, scans as ONE task)
    the gated spread must still be in the plan."""
    for name in ("pii_redact_documents", "decontam_eval_containment",
                 "url_canonical_dedup"):
        df = queries()[name](spark, SF_SMALL)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "RepartitionByExpression" in plan, f"{name} lost its spread"


def test_materialize_skips_trivial_lineage(spark):
    trivial = _docs_like(spark, 2).where(F.col("doc_id") % 7 == 0)
    out = _materialize_if_costly(trivial)
    assert out is trivial  # scan/filter/project: recompute, don't pin


def test_materialize_fires_on_costly_lineage(spark):
    base = _docs_like(spark, 2)
    agg = base.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    out = _materialize_if_costly(agg)
    assert out is not agg
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()
    joined = base.join(base.select("doc_id"), "doc_id")
    assert _materialize_if_costly(joined) is not joined


def test_merge_results_unchanged_by_gate(spark, tmp_path):
    """A trivial-lineage MOR merge (the gated-away checkpoint) must
    produce exactly the rows the table semantics promise."""
    from icerunner_spark.table import IceTable

    t = IceTable(spark, str(tmp_path / "gate_merge"))
    base = _docs_like(spark, 2).withColumn("v", F.lit(1))
    t.create(base)
    upd = (
        _docs_like(spark, 2)
        .where(F.col("doc_id") % 10 == 0)
        .withColumn("v", F.lit(2))
    )
    t.merge(upd, ["doc_id"], mode="merge-on-read")
    got = {(r["doc_id"], r["v"]) for r in t.scan().select("doc_id", "v").collect()}
    expect = {
        (i, 2 if i % 10 == 0 else 1) for i in range(0, 200)
    }
    assert got == expect


def test_costly_lineage_walks_subqueries_and_stops_at_cache(spark):
    """The plan-shape predicate reads node classes: a costly node inside
    a subquery plan counts, and a cached relation is a leaf (it is read,
    not re-executed)."""
    from icerunner_spark.plans import is_costly_lineage

    base = _docs_like(spark, 2)
    assert not is_costly_lineage(base.where(F.col("doc_id") > 3))
    sub = spark.sql(
        "SELECT * FROM range(10) WHERE id > (SELECT max(id) FROM range(5))"
    )
    assert is_costly_lineage(sub)
    cached = base.groupBy("text").count().cache()
    assert not is_costly_lineage(cached)
    cached.unpersist()
