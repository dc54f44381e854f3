"""Corpus-construction operators: connected components / cluster
resolution, decontamination, stratified sampling, repetition signals,
and sequence packing (operators/corpus.py, operators/packing.py)."""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import functions as F

from icerunner_spark.functions.text import md5_bucket, rate_to_hex_threshold
from icerunner_spark.operators.corpus import (
    connected_components,
    ngram_overlap_flags,
    resolve_near_duplicates,
    stratified_sample,
)
from icerunner_spark.operators.packing import pack_sequences
from icerunner_spark.plans import plan_report
from icerunner_spark.sources.testdata import load_table

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


# --------------------------------------------------------------------------- #
# connected components
# --------------------------------------------------------------------------- #


def test_connected_components_basic(spark):
    # components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["id1", "id2"],
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_long_chain(spark):
    # a 30-node path is the propagation worst case: needs ~diameter rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id1", "id2"]
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs, max_iter=40).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 31


def test_resolve_near_duplicates_singletons_and_canonicals(spark):
    docs = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([(1, 5), (5, 7)], ["id1", "id2"])
    rows = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in resolve_near_duplicates(docs, pairs, "doc_id").collect()
    }
    # cluster {1,5,7} -> canonical 1; everything else is its own singleton
    assert rows[1] == (1, True)
    assert rows[5] == (1, False)
    assert rows[7] == (1, False)
    for i in (0, 2, 3, 4, 6):
        assert rows[i] == (i, True)
    # exactly one canonical per cluster
    canon = [d for d, (_, c) in rows.items() if c]
    assert sorted(canon) == [0, 1, 2, 3, 4, 6]


# --------------------------------------------------------------------------- #
# decontamination
# --------------------------------------------------------------------------- #


def test_ngram_overlap_flags_planted(spark):
    eval_df = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta")], ["doc_id", "text"]
    )
    corpus = spark.createDataFrame(
        [
            (1, "prefix alpha beta gamma delta suffix tail"),  # shares 4-gram
            (2, "totally unrelated words here none shared"),
            (3, "alpha beta gamma delta epsilon zeta verbatim copy"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["overlap_grams"], r["contaminated"])
        for r in ngram_overlap_flags(corpus, eval_df, "doc_id", "text", n=4).collect()
    }
    assert got[1] == (1, True)  # "alpha beta gamma delta"
    assert got[2] == (0, False)
    assert got[3][0] == 3  # three overlapping distinct 4-grams
    assert got[3][1] is True


def test_ngram_overlap_plan_broadcasts_eval(spark):
    docs = load_table(spark, "documents", SF_MEDIUM)
    eval_df = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") % 37 != 0)
    report = plan_report(ngram_overlap_flags(corpus, eval_df, "doc_id", "text"))
    assert "BroadcastHashJoin" in report.text  # corpus must not shuffle on gram


# --------------------------------------------------------------------------- #
# stratified sampling
# --------------------------------------------------------------------------- #


def test_rate_to_hex_threshold_bounds():
    assert rate_to_hex_threshold(0.0) == "00000000"
    assert rate_to_hex_threshold(0.5) == "80000000"
    assert rate_to_hex_threshold(1.0) == "g"
    with pytest.raises(ValueError):
        rate_to_hex_threshold(1.5)


def test_stratified_sample_rates_and_determinism(spark):
    docs = load_table(spark, "documents", SF_MEDIUM)
    rates = {"en": 0.5, "zh": 0.2}
    kept = stratified_sample(docs, "lang", rates, "doc_id")
    again = stratified_sample(docs, "lang", rates, "doc_id")
    a = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    b = sorted(r["doc_id"] for r in again.select("doc_id").collect())
    assert a == b  # decision depends only on (key, salt, rate)

    totals = {r["lang"]: r["n"] for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r["lang"]: r["n"] for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    # md5 is uniform: expected rate +/- 4 sigma binomial tolerance
    for lang, rate in rates.items():
        n, k = totals[lang], got.get(lang, 0)
        sigma = math.sqrt(n * rate * (1 - rate))
        assert abs(k - n * rate) <= 4 * sigma + 1, (lang, k, n)
    # unlisted strata keep everything
    for lang in set(totals) - set(rates):
        assert got[lang] == totals[lang]


def test_md5_bucket_engine_portable(spark):
    # the same (key, salt) must produce the same hex on any engine:
    # mirror the DuckDB oracle expression byte for byte
    import duckdb

    rows = spark.range(0, 50).select(
        F.col("id"), md5_bucket("id", "mix").alias("h")
    ).collect()
    con = duckdb.connect()
    for r in rows:
        (dh,) = con.execute(
            "SELECT substr(md5(CAST(? AS VARCHAR) || '-mix'), 1, 8)", [r["id"]]
        ).fetchone()
        assert dh == r["h"]


# --------------------------------------------------------------------------- #
# sequence packing
# --------------------------------------------------------------------------- #


@pytest.fixture(scope="module")
def packed(spark):
    docs = load_table(spark, "documents", SF_MEDIUM).select(
        "doc_id", F.greatest(F.length("text") / 4, F.lit(1)).cast("long").alias("n_tokens")
    )
    return (
        pack_sequences(docs, "doc_id", "n_tokens", budget=128, n_buckets=4)
        .collect(),
        {r["doc_id"]: r["n_tokens"] for r in docs.collect()},
    )


def test_packing_budget_respected(packed):
    rows, _ = packed
    fills: dict[tuple, int] = {}
    for r in rows:
        fills[(r["bucket"], r["seq_id"])] = fills.get((r["bucket"], r["seq_id"]), 0) + r["n_tokens"]
    for (b, s), fill in fills.items():
        if fill > 128:
            # only allowed for a single oversized doc in its own sequence
            members = [r for r in rows if r["bucket"] == b and r["seq_id"] == s]
            assert len(members) == 1 and members[0]["n_tokens"] > 128


def test_packing_every_doc_exactly_once(packed):
    rows, docs = packed
    assert sorted(r["doc_id"] for r in rows) == sorted(docs)


def test_packing_offsets_consistent(packed):
    rows, _ = packed
    by_seq: dict[tuple, list] = {}
    for r in rows:
        by_seq.setdefault((r["bucket"], r["seq_id"]), []).append(r)
    for members in by_seq.values():
        members.sort(key=lambda r: r["offset"])
        pos = 0
        for m in members:
            assert m["offset"] == pos
            pos += m["n_tokens"]


def test_packing_quality_and_determinism(spark, packed):
    rows, docs = packed
    # FFD quality: per bucket, n_seqs <= ceil(11/9 * optimal) + 1
    per_bucket: dict[int, list] = {}
    for r in rows:
        per_bucket.setdefault(r["bucket"], []).append(r)
    for b, members in per_bucket.items():
        total = sum(min(r["n_tokens"], 128) for r in members)
        oversized = sum(1 for r in members if r["n_tokens"] > 128)
        optimal = math.ceil(total / 128)
        n_seqs = len({r["seq_id"] for r in members})
        assert n_seqs <= math.ceil(optimal * 11 / 9) + 1 + oversized, b
    # determinism across a re-run
    docs_df = load_table(spark, "documents", SF_MEDIUM).select(
        "doc_id", F.greatest(F.length("text") / 4, F.lit(1)).cast("long").alias("n_tokens")
    )
    again = pack_sequences(docs_df, "doc_id", "n_tokens", budget=128, n_buckets=4).collect()
    key = lambda r: (r["bucket"], r["seq_id"], r["doc_id"], r["offset"])  # noqa: E731
    assert sorted(map(key, rows)) == sorted(map(key, again))


# --------------------------------------------------------------------------- #
# chunking
# --------------------------------------------------------------------------- #


def test_chunk_documents_coverage_and_overlap(spark):
    from icerunner_spark.operators.corpus import chunk_documents

    # letter-only words: the token regex splits "w1" into two tokens
    import itertools

    words_src = ["".join(p) for p in itertools.product("abcdefghij", repeat=2)]
    text = " ".join(words_src[:100])
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, "doc_id", "text", chunk_tokens=10, overlap=4).collect(),
        key=lambda r: r["chunk_idx"],
    )
    # stride 6 over 100 tokens -> ceil(100/6) = 17 chunk starts
    assert len(rows) == 17
    toks_seen = set()
    prev_tail = None
    for r in rows:
        words = r["chunk_text"].split(" ")
        assert r["n_chunk_tokens"] == len(words) <= 10
        if prev_tail is not None:
            assert words[:4] == prev_tail  # 4-token overlap with previous
        prev_tail = words[6:10] if len(words) == 10 else None
        toks_seen.update(words)
    assert len(toks_seen) == 100  # every token appears in some chunk


def test_chunk_documents_rejects_bad_config(spark):
    from icerunner_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="exceed overlap"):
        chunk_documents(df, "doc_id", "text", chunk_tokens=4, overlap=4)


# --------------------------------------------------------------------------- #
# incremental dedup (operators/incremental.py)
# --------------------------------------------------------------------------- #


def test_greedy_dropped_ids_chain(spark):
    """Greedy-by-id on a path 1-2-3-4: 1 kept, 2 dropped (dups kept 1),
    3 kept (its only smaller neighbor 2 was DROPPED — component-min-id
    semantics would wrongly drop it), 4 dropped (dups kept 3)."""
    from icerunner_spark.operators.incremental import greedy_dropped_ids

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["id1", "id2"])
    got = {r["id"] for r in greedy_dropped_ids(pairs).collect()}
    assert got == {2, 4}


def test_greedy_dropped_ids_triangle_and_star(spark):
    from icerunner_spark.operators.incremental import greedy_dropped_ids

    # triangle {1,2,3}: only 1 survives; star 10-{11,12,13}: only 10 survives
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (10, 13)], ["id1", "id2"]
    )
    got = {r["id"] for r in greedy_dropped_ids(pairs).collect()}
    assert got == {2, 3, 11, 12, 13}


def test_greedy_dropped_ids_empty(spark):
    from icerunner_spark.operators.incremental import greedy_dropped_ids

    pairs = spark.createDataFrame([], "id1 bigint, id2 bigint")
    assert greedy_dropped_ids(pairs).count() == 0


def test_greedy_dropped_ids_driver_matches_distributed(spark):
    """The capped driver-side resolution (r11) must equal the
    distributed fixed-point on a graph mixing chains, triangles, stars,
    and isolated edges — force the distributed path with cap=0."""
    import random

    from icerunner_spark.operators.incremental import greedy_dropped_ids

    rng = random.Random(7)
    edges = set()
    # random sparse graph over 200 nodes + known structures
    while len(edges) < 300:
        a, b = rng.randrange(200), rng.randrange(200)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    edges |= {(500, 501), (501, 502), (502, 503), (600, 601), (600, 602)}
    pairs = spark.createDataFrame(sorted(edges), ["id1", "id2"])
    via_driver = {r["id"] for r in greedy_dropped_ids(pairs).collect()}
    via_rounds = {
        r["id"]
        for r in greedy_dropped_ids(pairs, driver_edge_cap=0).collect()
    }
    assert via_driver == via_rounds
    # chain 500-503: 501/503 dropped; star 600: both leaves dropped
    assert {501, 503, 601, 602} <= via_driver
    assert {500, 502, 600}.isdisjoint(via_driver)


def test_incremental_exact_dedup_equals_full(spark):
    """Prefix decomposability of the exact path, with manufactured dups:
    copies of prior docs (must drop against state) and within-delta
    copies (min id wins), same construction as the registry query."""
    from icerunner_spark.operators.dedup import dedup_exact
    from icerunner_spark.operators.incremental import (
        exact_dedup_state,
        incremental_exact_dedup,
    )

    docs = load_table(spark, "documents", SF_MEDIUM)
    k = int(docs.agg(F.max("doc_id")).first()[0] * 0.8)
    prior = docs.filter(F.col("doc_id") < k)
    tail = docs.filter(F.col("doc_id") >= k)
    delta = tail.unionByName(
        prior.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000000
        )
    ).unionByName(
        tail.filter(F.col("doc_id") % 11 == 0).withColumn(
            "doc_id", F.col("doc_id") + 2000000
        )
    )
    full = dedup_exact(prior.unionByName(delta), "text", "doc_id")
    full_delta_ids = {
        r["doc_id"] for r in full.filter(F.col("doc_id") >= k).collect()
    }
    inc = incremental_exact_dedup(
        delta, exact_dedup_state(prior, "text"), "doc_id", "text"
    )
    inc_ids = {r["doc_id"] for r in inc.select("doc_id").collect()}
    assert inc_ids == full_delta_ids
    # the manufactured dups actually exercised both drop rules
    assert not any(i >= 1000000 for i in inc_ids)
    assert len(inc_ids) == tail.count()


def test_incremental_minhash_dedup_equals_full(spark):
    """Prefix decomposability of the greedy near-dup path: incremental
    dedup of the delta against retained-prior state equals the delta
    slice of a full-corpus greedy re-dedup, and the retained prior is
    itself the prior slice of the full result."""
    from icerunner_spark.operators.incremental import (
        greedy_minhash_dedup,
        incremental_minhash_dedup,
        minhash_dedup_state,
    )

    docs = load_table(spark, "documents", SF_MEDIUM)
    k = int(docs.agg(F.max("doc_id")).first()[0] * 0.8)
    prior = docs.filter(F.col("doc_id") < k)
    delta = docs.filter(F.col("doc_id") >= k)

    full = greedy_minhash_dedup(docs, "doc_id", "text")
    full_ids = {r["doc_id"] for r in full.select("doc_id").collect()}

    prior_kept = greedy_minhash_dedup(prior, "doc_id", "text")
    prior_ids = {r["doc_id"] for r in prior_kept.select("doc_id").collect()}
    assert prior_ids == {i for i in full_ids if i < k}

    state = minhash_dedup_state(prior_kept, "doc_id", "text")
    inc = incremental_minhash_dedup(
        prior_kept, delta, "doc_id", "text", state_sigs=state
    )
    inc_ids = {r["doc_id"] for r in inc.select("doc_id").collect()}
    assert inc_ids == {i for i in full_ids if i >= k}
    # the fixture has real cross/within-delta near-dups: some doc dropped
    assert len(inc_ids) < delta.count()


def test_dedup_maintenance_pass_in_place(spark, tmp_path):
    """Continuous corpus-clean loop: CDC delta dedup + merge-on-read
    delete of the losers, in place on the snapshot table. Two passes:
    each must leave the table equal to a full greedy dedup of everything
    ingested so far, advance the cursor so the next scan_changes range
    stays append-only, and publish nothing when the delta is clean."""
    import os

    from icerunner_spark.operators.incremental import dedup_maintenance_pass
    from icerunner_spark.table import IceTable

    t = IceTable(spark, os.path.join(str(tmp_path), "corpus"))
    t.create(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "gamma delta")], "doc_id long, text string"
        )
    )
    cursor = t.current_snapshot().snapshot_id

    # batch 1: one dup of doc 1, one in-delta dup pair, one fresh doc
    t.append(
        spark.createDataFrame(
            [(3, "alpha beta"), (4, "epsilon"), (5, "epsilon"), (6, "zeta")],
            "doc_id long, text string",
        )
    )
    n, cursor = dedup_maintenance_pass(t, cursor)
    assert n == 2  # doc 3 (dup of 1) and doc 5 (in-delta dup of 4)
    assert sorted(r.doc_id for r in t.scan().collect()) == [1, 2, 4, 6]

    # clean batch: nothing removed, no delete snapshot published
    n_snaps = len(t.snapshots())
    t.append(spark.createDataFrame([(7, "eta")], "doc_id long, text string"))
    n, cursor = dedup_maintenance_pass(t, cursor)
    assert n == 0
    assert sorted(r.doc_id for r in t.scan().collect()) == [1, 2, 4, 6, 7]
    assert len(t.snapshots()) == n_snaps + 1  # only the append

    # batch 2 after a prior delete commit: range stays append-only
    t.append(
        spark.createDataFrame(
            [(8, "zeta"), (9, "theta")], "doc_id long, text string"
        )
    )
    n, cursor = dedup_maintenance_pass(t, cursor)
    assert n == 1  # doc 8 duplicates kept doc 6
    assert sorted(r.doc_id for r in t.scan().collect()) == [1, 2, 4, 6, 7, 9]


def test_leakage_safe_split_group_atomicity(spark):
    """No duplicate group may straddle a split: exact dups (same
    normalized text) share a split in the text-keyed form, and near-dup
    cluster members share a split in the groups-keyed form. Weights are
    respected in expectation (sanity: every split non-empty at n=600)."""
    from icerunner_spark.operators.corpus import leakage_safe_split

    rows = []
    for i in range(600):
        # 200 groups of 3 exact duplicates (whitespace/case variants)
        # case + INTERNAL whitespace variants: normalize_ws lowers and
        # collapses runs but does not trim, matching fingerprint64's
        # exact-dup definition
        base = f"document body number {i % 200} with shared content"
        variant = [base, base.upper(), base.replace(" ", "  ")][i % 3]
        rows.append((i, variant))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = leakage_safe_split(
        df, "doc_id", "text", weights={"train": 0.8, "val": 0.1, "test": 0.1}
    )
    got = {(r["doc_id"], r["split"]) for r in out.collect()}
    splits = {}
    for doc_id, split in got:
        splits.setdefault(doc_id % 200, set()).add(split)
    assert all(len(s) == 1 for s in splits.values()), "exact-dup group split"
    names = {s for _d, s in got}
    assert names == {"train", "val", "test"}

    # groups form: near-dup clusters move as one unit
    clusters = spark.createDataFrame(
        [(i, i % 40) for i in range(600)], "doc_id long, cluster_id long"
    )
    out2 = leakage_safe_split(
        df, "doc_id",
        weights={"train": 0.5, "test": 0.5},
        groups=clusters,
    )
    by_cluster = {}
    for r in out2.collect():
        by_cluster.setdefault(r["doc_id"] % 40, set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values()), "cluster split"

    # determinism: re-running assigns identical splits
    again = {
        (r["doc_id"], r["split"])
        for r in leakage_safe_split(
            df, "doc_id", "text",
            weights={"train": 0.8, "val": 0.1, "test": 0.1},
        ).collect()
    }
    assert again == got

    # bad weights refuse
    import pytest as _pytest

    with _pytest.raises(ValueError, match="sum to 1"):
        leakage_safe_split(df, "doc_id", "text", weights={"a": 0.5})
    with _pytest.raises(ValueError, match="text_col"):
        leakage_safe_split(df, "doc_id")


def test_leakage_safe_split_null_keys_and_dup_groups(spark):
    """r9 hardening: a NULL group key (null text, or an id missing from
    the groups frame with a null fallback) used to yield a null md5
    bucket whose every when() branch evaluated null — so ALL null-key
    rows silently piled into the LAST split. The key now falls back to
    the id (deterministic, ungrouped); duplicate ids in a user-supplied
    groups frame must not fan out corpus rows through the join."""
    from icerunner_spark.operators.corpus import leakage_safe_split

    rows = [(i, None if i < 40 else f"body {i}") for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = leakage_safe_split(
        df, "doc_id", "text",
        weights={"train": 0.5, "val": 0.25, "test": 0.25},
    )
    got = {(r["doc_id"], r["split"]) for r in out.collect()}
    assert len(got) == 120  # no fan-out, no drop
    null_splits = {s for d, s in got if d < 40}
    # id-keyed fallback spreads null-text rows across splits instead of
    # dumping all 40 into 'test'
    assert len(null_splits) > 1, "null-text rows all in one split"
    # determinism of the fallback
    again = {
        (r["doc_id"], r["split"])
        for r in leakage_safe_split(
            df, "doc_id", "text",
            weights={"train": 0.5, "val": 0.25, "test": 0.25},
        ).collect()
    }
    assert again == got

    # duplicate ids in groups: each corpus row keeps exactly one split
    groups = spark.createDataFrame(
        [(i, i % 10) for i in range(120)] + [(0, 7), (1, 3)],
        "doc_id long, cluster_id long",
    )
    out2 = leakage_safe_split(
        df, "doc_id", weights={"train": 0.5, "test": 0.5}, groups=groups
    )
    assert out2.count() == 120, "dup group ids fanned out rows"
    # ids absent from groups fall back to the id key, still one row each
    sparse = spark.createDataFrame(
        [(i, i % 5) for i in range(0, 60)], "doc_id long, cluster_id long"
    )
    out3 = leakage_safe_split(
        df, "doc_id", weights={"train": 0.5, "test": 0.5}, groups=sparse
    )
    assert out3.count() == 120
    by_cluster = {}
    for r in out3.where("doc_id < 60").collect():
        by_cluster.setdefault(r["doc_id"] % 5, set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())


def test_cluster_resolution_cap_not_binding_equals_uncapped(spark):
    """r11: dedup_cluster_resolution defaults to max_doc_freq=1000.
    At the driver's sf0.01 (500 docs) no shingle CAN exceed the cap, so
    the capped form must be IDENTICAL to the uncapped r10 behavior —
    the pin behind the r9 driver rows staying comparable after the
    default change."""
    from icerunner_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, "documents", SF_MEDIUM)
    out = {}
    for cap in (None, 1000):
        pairs = ngram_jaccard_pairs(
            docs, "doc_id", "text", n=5, threshold=0.25, max_doc_freq=cap
        )
        resolved = resolve_near_duplicates(docs.select("doc_id"), pairs, "doc_id")
        out[cap] = {
            (r["doc_id"], r["cluster_id"], r["is_canonical"])
            for r in resolved.collect()
        }
    assert any(not can for _, _, can in out[None]), "fixture must contain dups"
    assert out[1000] == out[None]


def test_max_doc_freq_drops_boilerplate_pairs(spark):
    """The cap's SEMANTICS, hand-computed: 6 docs where 0/1 share rare
    content plus a boilerplate tail carried by ALL docs. Uncapped, the
    ubiquitous boilerplate shingles alone push every doc pair over the
    threshold (one mega-cluster); capped at df < n_docs the boilerplate
    drops out of the fingerprint and only the genuine content pair
    survives — with its Jaccard computed over capped SETS on both
    sides, which is what lets a SQL oracle reproduce it exactly."""
    import hashlib

    from icerunner_spark.operators.dedup import ngram_jaccard_pairs

    # ~320 chars of UNIQUE boilerplate (repetition would collapse under
    # array_distinct): long enough that its shingles dominate any pair
    bp = " " + " ".join(
        hashlib.md5(f"bp:{j}".encode()).hexdigest()[:10] for j in range(30)
    )
    rows = []
    for i in range(6):
        fam = 0 if i < 2 else i  # docs 0,1 share content; 2..5 distinct
        body = " ".join(
            hashlib.md5(f"{fam}:{j}".encode()).hexdigest()[:10] for j in range(4)
        )
        rows.append((i, body + bp))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=5, threshold=0.4
        ).collect()
    }
    capped = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(
            df, "doc_id", "text", n=5, threshold=0.4, max_doc_freq=5
        ).collect()
    }
    # boilerplate dominates every doc -> uncapped links everything
    assert len(uncapped) == 15, sorted(uncapped)
    # capped: only the genuine content pair remains
    assert capped == {(0, 1)}, sorted(capped)


def test_pipeline_to_split_no_cluster_straddles(spark):
    """The composed corpus path a training pipeline actually runs
    (r8 verdict item 7): near-dup pair generation -> cluster resolution
    -> leakage_safe_split keyed on the cluster id. End-to-end pin: no
    near-dup cluster straddles a split, canonical survivors and their
    non-canonical duplicates land together, and every input row keeps
    exactly one split."""
    from icerunner_spark.operators.corpus import (
        leakage_safe_split,
        resolve_near_duplicates,
    )
    from icerunner_spark.operators.dedup import minhash_neardup_pairs

    rows = []
    for i in range(90):
        fam = i % 30
        # distinct body per family — hash-derived words so CHAR-level
        # shingles don't overlap across families (shared literal
        # prefixes like "token0word1" would make everything one
        # mega-cluster) and the corpus resolves into 30 real clusters
        import hashlib

        text = (
            " ".join(
                hashlib.md5(f"{fam}:{j}".encode()).hexdigest()[:12]
                for j in range(40)
            )
            + " "
        )
        if i // 30 == 1:
            text += "with one extra tail phrase"  # near-dup variant
        elif i // 30 == 2:
            text = text.upper()  # exact-dup variant (normalizes equal)
        rows.append((i, text))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = minhash_neardup_pairs(
        df, "doc_id", "text", n_hashes=48, bands=12, threshold=0.5
    )
    clustered = resolve_near_duplicates(df, pairs, "doc_id")
    groups = clustered.select("doc_id", "cluster_id")
    out = leakage_safe_split(
        df, "doc_id",
        weights={"train": 0.6, "val": 0.2, "test": 0.2},
        groups=groups,
    )
    got = out.select("doc_id", "split").collect()
    assert len(got) == 90
    split_by_id = {r["doc_id"]: r["split"] for r in got}
    cluster_by_id = {
        r["doc_id"]: r["cluster_id"] for r in groups.collect()
    }
    by_cluster = {}
    for doc_id, split in split_by_id.items():
        by_cluster.setdefault(cluster_by_id[doc_id], set()).add(split)
    assert all(len(s) == 1 for s in by_cluster.values()), (
        "a near-dup cluster straddles splits"
    )
    # the variants of one family really did cluster together (the pin is
    # vacuous if every doc is a singleton)
    assert len(set(cluster_by_id.values())) < 90
    # and at this size the split uses more than one bucket
    assert len(set(split_by_id.values())) >= 2


# --------------------------------------------------------------------------- #
# temperature-scaled mixture
# --------------------------------------------------------------------------- #


def test_temperature_mixture_budgets_and_determinism(spark):
    from icerunner_spark.operators.corpus import temperature_mixture

    d = load_table(spark, "documents", SF_MEDIUM).select(
        "lang", "doc_id", (F.length("text") / 5).cast("long").alias("n_tok")
    )
    out = temperature_mixture(
        d, "lang", "n_tok", "doc_id", total_budget=5000, alpha=0.5
    )
    rows = out.collect()
    # budget enforcement is exact: per-source cum_tokens never exceeds
    # the source's integer budget
    for r in rows:
        assert r["cum_tokens"] <= r["budget"]
    # budgets sum to <= total (floor division can only under-fill)
    budgets = {r["lang"]: r["budget"] for r in rows}
    assert sum(budgets.values()) <= 5000
    # partitioning independence: the selected set is a pure function of
    # the data, not the layout
    rows2 = temperature_mixture(
        d.repartition(13, "doc_id"),
        "lang",
        "n_tok",
        "doc_id",
        total_budget=5000,
        alpha=0.5,
    ).collect()
    assert sorted(r["doc_id"] for r in rows) == sorted(
        r["doc_id"] for r in rows2
    )


def test_temperature_mixture_alpha_flattens(spark):
    """alpha=0 gives every source the same budget; alpha=1 keeps the
    natural mass proportions (up to floor)."""
    from icerunner_spark.operators.corpus import temperature_mixture

    d = spark.createDataFrame(
        [("big", i, 100) for i in range(90)]
        + [("small", 1000 + i, 100) for i in range(10)],
        ["src", "id", "n_tok"],
    )
    flat = temperature_mixture(
        d, "src", "n_tok", "id", total_budget=2000, alpha=0.0
    )
    b = {r["src"]: r["budget"] for r in flat.collect()}
    assert b["big"] == b["small"] == 1000
    nat = temperature_mixture(
        d, "src", "n_tok", "id", total_budget=2000, alpha=1.0
    )
    b = {r["src"]: r["budget"] for r in nat.collect()}
    assert b["big"] == 1800 and b["small"] == 200


def test_temperature_mixture_source_cap(spark):
    from icerunner_spark.operators.corpus import temperature_mixture

    d = spark.createDataFrame(
        [(f"s{i}", i, 10) for i in range(20)], ["src", "id", "n_tok"]
    )
    with pytest.raises(ValueError, match="more than 5 sources"):
        temperature_mixture(
            d, "src", "n_tok", "id", total_budget=100, max_sources=5
        )


# --------------------------------------------------------------------------- #
# incremental hamming-signature dedup (the perceptual/CDC twin)
# --------------------------------------------------------------------------- #


def test_incremental_hamming_dedup_equals_full(spark):
    """greedy_hamming_dedup(prior ∪ delta) == greedy(prior) ∪
    incremental(kept(prior), delta) under the monotone-id contract —
    the same equivalence the minhash path pins, over raw 64-bit
    signatures (image dHash / audio fingerprints / simhash alike)."""
    import random

    from icerunner_spark.operators.incremental import (
        greedy_hamming_dedup,
        incremental_hamming_dedup,
    )

    rng = random.Random(19)

    def rand_sig():
        v = rng.getrandbits(64)
        return v - (1 << 64) if v >= 1 << 63 else v

    def flip(sig, bits):
        v = sig & ((1 << 64) - 1)
        for p in bits:
            v ^= 1 << p
        return v - (1 << 64) if v >= 1 << 63 else v

    prior = [(i, rand_sig()) for i in range(40)]
    # disjoint bit sets make every pairwise distance exact by counting
    prior[7] = (7, flip(prior[3][1], [0, 1, 2]))     # d(7,3)=3: dropped
    prior[25] = (25, flip(prior[3][1], [20, 21]))    # d(25,3)=2: dropped
    delta = [(100 + i, rand_sig()) for i in range(25)]
    delta[2] = (102, flip(prior[11][1], [30, 31, 32, 33]))  # d=4 to kept 11
    # d(105,7)=4 but 7 was DROPPED; d(105,3)=7 and d(105,25)=9, both
    # beyond the radius — greedy ignores dropped docs, so 105 survives
    delta[5] = (105, flip(prior[7][1], [10, 11, 12, 13]))
    delta[9] = (109, flip(delta[0][1], [40, 41, 42, 43, 44]))  # d=5 to 100
    delta[12] = (112, flip(delta[9][1], [50, 51]))   # chain within delta

    pdf = spark.createDataFrame(prior, ["id", "sig"])
    ddf = spark.createDataFrame(delta, ["id", "sig"])
    kept_prior = greedy_hamming_dedup(pdf, max_distance=6)
    inc = incremental_hamming_dedup(kept_prior, ddf, max_distance=6)
    full = greedy_hamming_dedup(pdf.unionByName(ddf), max_distance=6)

    got = sorted(
        r["id"] for r in kept_prior.select("id").collect()
    ) + sorted(r["id"] for r in inc.select("id").collect())
    want = sorted(r["id"] for r in full.select("id").collect())
    assert sorted(got) == want
    # the planted prior dupes really dropped and 105 really survived
    # (its only neighbor 7 was dropped, and greedy ignores dropped docs)
    assert 7 not in got and 25 not in got
    assert 105 in got and 102 not in got and 109 not in got


@pytest.mark.parametrize("family", ["minhash", "hamming"])
def test_incremental_dedup_with_empty_prior_equals_greedy(spark, family):
    """With nothing retained yet, incremental dedup of a delta is the
    batch greedy dedup of that delta: near-duplicates 1 and 2 keep only
    1, unrelated 3 stays."""
    from icerunner_spark.operators.incremental import (
        greedy_hamming_dedup,
        greedy_minhash_dedup,
        incremental_hamming_dedup,
        incremental_minhash_dedup,
    )

    if family == "minhash":
        text = "the quick brown fox jumps over the lazy dog by the river bank"
        delta = spark.createDataFrame(
            [
                (1, text + " today"),
                (2, text + " again"),
                (3, "an unrelated note on adaptive query execution in spark"),
            ],
            "doc_id long, text string",
        )
        prior = spark.createDataFrame([], "doc_id long, text string")
        inc = incremental_minhash_dedup(prior, delta, "doc_id", "text")
        full = greedy_minhash_dedup(delta, "doc_id", "text")
        col = "doc_id"
    else:
        base = 0x0123456789ABCDEF
        delta = spark.createDataFrame(
            [(1, base), (2, base ^ 0b101), (3, 0x7EDCBA9876543210)],
            "id long, sig long",
        )
        prior = spark.createDataFrame([], "id long, sig long")
        inc = incremental_hamming_dedup(prior, delta, max_distance=6)
        full = greedy_hamming_dedup(delta, max_distance=6)
        col = "id"
    got = sorted(r[col] for r in inc.select(col).collect())
    want = sorted(r[col] for r in full.select(col).collect())
    assert want == [1, 3]
    assert got == want


# --------------------------------------------------------------------------- #
# banded candidate sets against a driver-side brute force
# --------------------------------------------------------------------------- #


def _greedy_survivors(ids, pairs, kept_prior=()):
    """Greedy-by-id in plain Python: ascending over ``ids``, a doc is
    kept iff no neighbour in ``pairs`` is already kept; ``kept_prior``
    docs are kept and final. Returns the kept docs among ``ids``."""
    nbrs: dict = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    kept = set(kept_prior)
    for i in sorted(ids):
        if not nbrs.get(i, set()) & kept:
            kept.add(i)
    return kept - set(kept_prior)


def _planted_hamming_sigs(seed=23, n_base=20):
    """(id, sig) rows: random 64-bit bases, each followed by neighbours
    at distances 0..7 (d distinct flipped bits)."""
    import random

    rng = random.Random(seed)
    sigs = []
    for _ in range(n_base):
        base = rng.getrandbits(64)
        sigs.append(base)
        for d in range(8):
            v = base
            for p in rng.sample(range(64), d):
                v ^= 1 << p
            sigs.append(v)
    signed = [v - (1 << 64) if v >= 1 << 63 else v for v in sigs]
    return list(enumerate(signed))


def _brute_hamming_pairs(rows, max_distance):
    out = set()
    for i, (a, sa) in enumerate(rows):
        for b, sb in rows[i + 1:]:
            d = bin((sa ^ sb) & ((1 << 64) - 1)).count("1")
            if d <= max_distance:
                out.add((min(a, b), max(a, b), d))
    return out


@pytest.mark.parametrize("max_distance", [3, 7])
def test_hamming_banding_equals_brute_force(spark, max_distance):
    """Pigeonhole guarantee: 16-bit chunks at distance 3, 8-bit chunks
    at distance 7 find exactly the all-pairs popcount(a ^ b) <= d set —
    batch pairs, and the delta form's survivors against a kept prior."""
    from icerunner_spark.operators.dedup import hamming_neardup_pairs
    from icerunner_spark.operators.incremental import incremental_hamming_dedup

    rows = _planted_hamming_sigs()
    want = _brute_hamming_pairs(rows, max_distance)
    df = spark.createDataFrame(rows, "id long, sig long")
    got = {
        (r["id1"], r["id2"], r["distance"])
        for r in hamming_neardup_pairs(
            df, max_distance=max_distance, max_bucket=10_000
        ).collect()
    }
    assert {p[2] for p in want} == set(range(max_distance + 1))
    assert got == want

    # delta form: every prior doc is kept, so a delta doc drops iff a
    # kept smaller doc (prior or delta) is within the radius
    split = len(rows) // 2 + 4
    prior, delta = rows[:split], rows[split:]
    pairs = {(a, b) for a, b, _ in want}
    expect = _greedy_survivors(
        [i for i, _ in delta], pairs, kept_prior=[i for i, _ in prior]
    )
    assert any(a < split <= b for a, b in pairs), "no prior-delta pair planted"
    inc = incremental_hamming_dedup(
        spark.createDataFrame(prior, "id long, sig long"),
        spark.createDataFrame(delta, "id long, sig long"),
        max_distance=max_distance,
        max_bucket=10_000,
    )
    assert {r["id"] for r in inc.collect()} == expect


def _planted_minhash_docs(seed=29, n_base=24):
    """Docs of random words from a wide vocabulary, each base followed
    by variants with one to three words replaced."""
    import random

    rng = random.Random(seed)
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(6))
        for _ in range(300)
    ]
    docs = []
    for _ in range(n_base):
        words = [rng.choice(vocab) for _ in range(14)]
        docs.append(" ".join(words))
        for k in (1, 2, 3):
            variant = list(words)
            for p in rng.sample(range(len(words)), k):
                variant[p] = rng.choice(vocab)
            docs.append(" ".join(variant))
    return list(enumerate(docs))


def _brute_band_pairs(sigs, n_hashes, bands):
    """Pairs sharing any full band slice of their MinHash signatures."""
    rows = n_hashes // bands
    out = set()
    for b in range(bands):
        buckets: dict = {}
        for i, sig in sigs.items():
            buckets.setdefault(tuple(sig[b * rows:(b + 1) * rows]), []).append(i)
        for ids in buckets.values():
            ids.sort()
            out.update(
                (x, y) for k, x in enumerate(ids) for y in ids[k + 1:]
            )
    return out


def test_minhash_banding_equals_brute_force(spark):
    """MinHash LSH candidates are exactly the pairs that share any band
    slice, computed in Python from the collected signatures — batch
    candidates, and the delta form's survivors at threshold 0 (where
    every candidate passes the prefilter and the verify, so the greedy
    graph IS the candidate graph)."""
    from icerunner_spark.operators.dedup import (
        minhash_lsh_candidates,
        minhash_signatures,
    )
    from icerunner_spark.operators.incremental import incremental_minhash_dedup

    rows = _planted_minhash_docs()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures(df, "doc_id", "text", n_hashes=64).collect()
    }
    want = _brute_band_pairs(sigs, 64, 16)
    got = {
        (r["id1"], r["id2"])
        for r in minhash_lsh_candidates(
            df, "doc_id", "text", n_hashes=64, bands=16, max_bucket=10_000
        ).collect()
    }
    assert len(want) >= len(rows) // 2, "fixture must plant colliding pairs"
    assert got == want

    split = len(rows) // 2 + 2
    expect = _greedy_survivors(
        [i for i, _ in rows[split:]], want, kept_prior=range(split)
    )
    assert any(a < split <= b for a, b in want), "no prior-delta pair planted"
    inc = incremental_minhash_dedup(
        df.filter(F.col("doc_id") < split),
        df.filter(F.col("doc_id") >= split),
        "doc_id",
        "text",
        threshold=0.0,
        max_bucket=10_000,
    )
    assert {r["doc_id"] for r in inc.collect()} == expect


# --------------------------------------------------------------------------- #
# hard-negative mining
# --------------------------------------------------------------------------- #


def test_mine_hard_negatives_semantics(spark):
    """Planted corpus: docs 1/2 are near-duplicates (must be EXCLUDED as
    negatives of each other), docs 1/3 share rare phrasing but diverge
    (the hard negative we want), doc 4 shares nothing informative."""
    from icerunner_spark.operators.corpus import mine_hard_negatives

    base = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, base + " one two three"),
        (2, base + " one two four"),          # near-dup of 1
        (3, base + " totally different tail here now ok"),  # hard negative
        (4, "unrelated words nothing shared at all whatsoever"),
        # a second copy of doc 4's phrasing so its grams reach df=2 —
        # informative, but shared with nobody else
        (5, "unrelated words nothing shared at all whatsoever x"),
        # shares doc 3's tail so the tail grams become informative
        # (df=2): without this, doc 3's only informative grams are the
        # base phrase and 1<->3 would look like a near-dup
        (6, "totally different tail here now ok padding words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = mine_hard_negatives(
        df, "doc_id", "text",
        ngram=3, df_max=10, min_shared=2, jaccard_max=0.6, per_anchor=3,
    )
    got = {(r["anchor_id"], r["negative_id"]) for r in out.collect()}
    # 1<->2 is a near-dup pair: excluded. 1<->3 and 2<->3 share the base
    # phrase but diverge: kept, both directions.
    assert (1, 2) not in got and (2, 1) not in got
    assert (1, 3) in got and (3, 1) in got
    assert (2, 3) in got and (3, 2) in got
    # doc 4's informative grams are shared only with 5 — but 4/5 are
    # near-dups of each other, so neither produces a negative
    assert not any(a in (4, 5) or n in (4, 5) for a, n in got)


def test_mine_hard_negatives_deterministic_and_bounded(spark):
    """Partitioning-independence (integer scoring, total ordering) and
    the per_anchor bound, on real corpus data."""
    from icerunner_spark.operators.corpus import mine_hard_negatives

    d = load_table(spark, "documents", SF_MEDIUM).select("doc_id", "text")
    out1 = sorted(
        tuple(r)
        for r in mine_hard_negatives(
            d.repartition(7), "doc_id", "text", per_anchor=3
        ).collect()
    )
    out2 = sorted(
        tuple(r)
        for r in mine_hard_negatives(
            d.coalesce(1), "doc_id", "text", per_anchor=3
        ).collect()
    )
    assert out1 == out2 and out1
    from collections import Counter

    per_anchor = Counter(a for a, _, _, _ in out1)
    assert max(per_anchor.values()) <= 3
    # negatives are never self-pairs and scores are positive integers
    assert all(a != n and s >= 1 and w >= 1 for a, n, s, w in out1)


# --------------------------------------------------------------------------- #
# cross-source duplication matrix
# --------------------------------------------------------------------------- #


def test_source_overlap_semantics(spark):
    """Planted corpus: src a/b share one document verbatim (exact-dup
    mode sees it), src c shares only a phrase with a (gram mode sees
    it, exact mode must not), src d is disjoint (never appears)."""
    from icerunner_spark.operators.corpus import source_overlap

    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "a", shared),
        (2, "a", "unique to a entirely different words here now"),
        (3, "b", shared),                       # verbatim cross-source dup
        (4, "b", "b only content nothing shared with anyone else"),
        (5, "c", shared + " with an extra divergent tail attached"),
        (6, "d", "totally disjoint vocabulary in every way imaginable"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])

    exact = {
        (r["source_1"], r["source_2"]): r["shared_classes"]
        for r in source_overlap(df, "source", "text").collect()
    }
    assert exact == {("a", "b"): 1}

    grams = {
        (r["source_1"], r["source_2"]): r["shared_classes"]
        for r in source_overlap(df, "source", "text", ngram=8).collect()
    }
    # a/b share all 3 8-grams of the shared doc; a/c and b/c share them
    # too (c contains the phrase); d appears nowhere
    assert grams[("a", "b")] == 3
    assert grams[("a", "c")] == 3 and grams[("b", "c")] == 3
    assert not any("d" in pair for pair in grams)
    # coefficient: shared / min(|A|,|B|), by hand — the shared doc has
    # 10 tokens -> 3 distinct 8-grams; each filler doc has 8 tokens ->
    # 1 gram; so |a| = |b| = 4 and coeff(a,b) = 3/4
    out = {
        (r["source_1"], r["source_2"]): r["overlap_coeff"]
        for r in source_overlap(df, "source", "text", ngram=8).collect()
    }
    assert out[("a", "b")] == 0.75


def test_source_overlap_oracle_matches_on_zero_token_docs(spark, tmp_path):
    """r9->r10 ADVICE.md: Spark's word_ngrams yields ONE empty-string
    gram for a zero-token document (concat_ws over an empty slice ->
    ''), keyed md5(''). The oracle must produce the same key — DuckDB's
    list_aggregate('string_agg') over an empty slice returns NULL (row
    never joins, but still inflates per_source) where array_to_string
    returns ''. A whitespace-only doc in the corpus must not flip
    shared_classes / overlap_coeff between engines."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from icerunner_spark.queries import _ORACLES, source_overlap_matrix

    rows = [
        (1, "a", "alpha beta gamma delta epsilon zeta eta theta iota"),
        (2, "a", "   "),  # whitespace-only: zero tokens, one '' gram
        (3, "b", "alpha beta gamma delta epsilon zeta eta theta iota"),
        (4, "b", ""),  # empty: zero tokens, one '' gram
        (5, "c", "unrelated filler words that never collide with others"),
    ]
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "source": pa.array([r[1] for r in rows]),
                "text": pa.array([r[2] for r in rows]),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )

    got = sorted(
        (r["source_1"], r["source_2"], r["shared_classes"],
         float(r["overlap_coeff"]))
        for r in source_overlap_matrix(spark, str(tmp_path)).collect()
    )

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{tmp_path / 'documents.parquet'}')"
    )
    want = sorted(
        (r[0], r[1], r[2], float(r[3]))
        for r in con.execute(_ORACLES["source_overlap_matrix"]).fetchall()
    )
    assert got == want
    # both engines must count the '' gram: a and b share the verbatim
    # doc's grams AND the zero-token '' gram
    ab = [r for r in got if r[:2] == ("a", "b")]
    assert ab and ab[0][2] >= 2


@pytest.fixture(scope="module")
def zero_token_docs_dir(tmp_path_factory):
    """40 real fixture docs + four zero-token docs (empty, spaces, tab/
    newline, and one on the decontam EVAL side: 9028 % 37 == 0) — the
    corpus shape the sf fixtures lack, where DuckDB's
    array_to_string([], ' ') -> NULL diverges from Spark's '' gram."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("ztok")
    src = pq.read_table(os.path.join(SF_SMALL, "documents.parquet"))
    head = src.slice(0, 40)
    extra = pa.table(
        {
            "doc_id": pa.array([9001, 9002, 9003, 9028], pa.int64()),
            "text": pa.array(["", "   ", "\t\n", ""]),
            "lang": pa.array(["en", "en", "de", "en"]),
            "source": pa.array(["web", "books", "web", "wiki"]),
            "n_chars": pa.array([0, 3, 2, 0], pa.int64()),
        }
    )
    pq.write_table(
        pa.concat_tables([head.select(extra.column_names), extra]),
        str(d / "documents.parquet"),
    )
    return str(d)


@pytest.mark.parametrize(
    "name",
    [
        "source_overlap_matrix",
        "hard_negative_mining",
        "decontam_ngram_overlap",
        "chunk_documents_windows",
        "segment_dedup_reassemble",
        "repetition_quality_documents",
        "exact_substring_spans",
    ],
)
def test_gram_oracles_match_on_zero_token_docs(
    spark, zero_token_docs_dir, name
):
    """r9->r10 ADVICE.md hardening, swept across every oracle that
    slices a token array into space-joined grams: a zero-token document
    yields one '' gram on the Spark side (concat_ws over an empty
    slice), while DuckDB's array_to_string/list_aggregate over the
    empty slice returns NULL — the gram never equi-joins, list_distinct
    silently drops it, and string_agg skips it. Each oracle now
    COALESCEs to '' (or provably filters the case); this sweep fails if
    a new gram oracle reintroduces the hole."""
    import duckdb

    from icerunner_spark.queries import _ORACLES, _QUERIES

    sdf = _QUERIES[name](spark, zero_token_docs_dir)
    cols = sorted(sdf.columns)

    def norm(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            return str(round(v, 6))
        return str(v)

    got = sorted(tuple(norm(r[c]) for c in cols) for r in sdf.collect())

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM read_parquet("
        f"'{os.path.join(zero_token_docs_dir, 'documents.parquet')}')"
    )
    out = con.sql(_ORACLES[name])
    idx = [out.columns.index(c) for c in sorted(out.columns)]
    want = sorted(
        tuple(norm(row[i]) for i in idx) for row in out.fetchall()
    )
    assert got == want
    assert got  # non-empty: the sweep exercises real rows


def test_source_overlap_partitioning_independent(spark):
    from icerunner_spark.operators.corpus import source_overlap

    d = load_table(spark, "documents", SF_MEDIUM).select("source", "text")
    a = sorted(
        tuple(r)
        for r in source_overlap(d.repartition(7), "source", "text", ngram=8).collect()
    )
    b = sorted(
        tuple(r)
        for r in source_overlap(d.coalesce(1), "source", "text", ngram=8).collect()
    )
    assert a == b and a
