"""Operator-level tests for the dedup / similarity / text / asof families
(SURVEY.md §2.C), including recall pins for the approximate paths against
their exact baselines."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from icerunner_spark.operators.asof import asof_join
from icerunner_spark.operators.dedup import (
    dedup_exact,
    minhash_neardup_pairs,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
)
from icerunner_spark.operators.similarity import ann_lsh_topk, cosine_topk
from icerunner_spark.operators.text import analyze_documents
from icerunner_spark.sources.testdata import load_table

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """documents plus perturbed near-copies (guaranteed near-dups)."""
    d = load_table(spark, "documents", SF).select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xtra token")).alias("text"),
    )
    return d.unionByName(dups).cache()


def test_dedup_exact_keeps_one_per_text(spark):
    d = load_table(spark, "documents", SF).select("doc_id", "text")
    doubled = d.unionByName(
        d.filter(F.col("doc_id") < 10).select((F.col("doc_id") + 500000).alias("doc_id"), "text")
    )
    out = dedup_exact(doubled, "text", "doc_id")
    assert out.count() == d.count()  # exactly one survivor per distinct text
    # min-id representative kept
    assert out.filter(F.col("doc_id") >= 500000).count() == 0


def test_ngram_sets_refuses_non_integral_ids(spark):
    """ngram_sets casts ids to bigint, so a string id would turn into
    NULL without a word: the operator refuses it, naming column and
    type, and keeps accepting every integral width."""
    from icerunner_spark.operators.dedup import ngram_sets

    docs = spark.createDataFrame(
        [("a1", "the quick brown fox"), ("b2", "the quick brown fax")],
        "doc_id string, text string",
    )
    with pytest.raises(ValueError, match=r"'doc_id'.*integral.*string"):
        ngram_sets(docs, "doc_id", "text", shingle=3)
    for t in ("tinyint", "smallint", "int", "bigint"):
        ids = docs.select(
            F.substring("doc_id", 2, 1).cast(t).alias("doc_id"), "text"
        )
        got = sorted(r["id"] for r in ngram_sets(ids, "doc_id", "text", shingle=3).collect())
        assert got == [1, 2], t


def test_minhash_recall_against_exact(spark, docs_with_dups):
    """EXACT set equality at the registry config (k=48, bands=12): the
    dedup_minhash_lsh driver oracle IS the exact inverted-index
    formulation, so any missed pair is a correctness break, not a tuning
    regression. (Holds because every true fixture pair measures J>=0.92,
    far above the 12x4 banding's ~0.54 s-curve midpoint.)"""
    exact = {
        (r["id1"], r["id2"])
        for r in ngram_jaccard_pairs(docs_with_dups, "doc_id", "text", threshold=0.5).collect()
    }
    approx = {
        (r["id1"], r["id2"])
        for r in minhash_neardup_pairs(
            docs_with_dups, "doc_id", "text", n_hashes=48, bands=12, threshold=0.5
        ).collect()
    }
    assert exact, "fixture must contain near-dup pairs"
    assert approx == exact, (
        f"missed={sorted(exact - approx)[:5]} extra={sorted(approx - exact)[:5]}"
    )


def _expr_hashed_sets(df, shingle):
    from icerunner_spark.functions.text import char_ngrams, normalize_ws

    return (
        df.repartition(4, "doc_id")
        .select(
            F.col("doc_id").cast("long").alias("id"),
            normalize_ws("text").alias("__norm"),
        )
        .select(
            "id",
            F.array_distinct(
                char_ngrams(F.col("__norm"), shingle, normalized=True)
            ).alias("g"),
        )
        .select(
            "id",
            F.array_distinct(F.transform("g", lambda x: F.xxhash64(x))).alias("g"),
        )
    )


def _edge_docs(spark):
    rows = [
        (1, "ab"),                   # shorter than the shingle
        (2, ""),                     # empty -> one gram, the empty string
        (3, None),                   # null -> {42} (xxhash64(null) = seed)
        (4, "héllo wörld — non-ascii fallback päth"),
        (5, "aaaaaaaaaa"),           # one distinct gram
        (6, "hello world hello world"),  # duplicate grams collapse
        (7, "plain ascii body long enough for several grams"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_arrow_gram_kernel_matches_xxhash64_expressions(spark):
    """mapInArrow gram kernel: EXACT F.xxhash64 parity (not merely
    injective) on fixture docs and every edge shape — short, empty,
    null, non-ascii, duplicate-gram."""
    from icerunner_spark.operators.dedup import ngram_sets
    from icerunner_spark.sources.testdata import load_table

    for df in (_edge_docs(spark), load_table(spark, "documents", SF)):
        for n in (4, 5):
            new = {
                r["id"]: frozenset(r["g"])
                for r in ngram_sets(df, "doc_id", "text", shingle=n, hashed=True).collect()
            }
            ref = {
                r["id"]: frozenset(r["g"])
                for r in _expr_hashed_sets(df, n).collect()
            }
            assert new == ref
            # the expr engine (ngram_jaccard_pairs' path) agrees too
            expr = {
                r["id"]: frozenset(r["g"])
                for r in ngram_sets(
                    df, "doc_id", "text", shingle=n, hashed=True, engine="expr"
                ).collect()
            }
            assert expr == ref


def test_arrow_sig_kernel_matches_xxhash64_expressions(spark):
    """mapInArrow signature kernel: min over xxhash64(gram, lit(s))
    is bit-identical to the explode + k-min-aggregate formulation."""
    from icerunner_spark.operators.dedup import (
        minhash_signatures_from_grams,
        ngram_sets,
    )

    grams = ngram_sets(
        _edge_docs(spark), "doc_id", "text", shingle=5, hashed=True
    ).cache()
    new = {
        r["id"]: tuple(r["sig"])
        for r in minhash_signatures_from_grams(grams, n_hashes=48).collect()
    }
    ex = grams.select("id", F.explode("g").alias("gram"))
    mins = ex.groupBy("id").agg(
        *[F.min(F.xxhash64("gram", F.lit(s))).alias(f"m{s}") for s in range(48)]
    )
    ref = {
        r["id"]: tuple(r[f"m{s}"] for s in range(48)) for r in mins.collect()
    }
    grams.unpersist()
    assert new == ref


def test_hashed_gram_jaccard_equals_string_grams(spark, docs_with_dups):
    """r11: ngram_jaccard_pairs hashes shingles to longs before the
    inverted-index join (guide §2.3 narrower types). Jaccard is a count
    over distinct set elements, so any injective relabeling leaves every
    (id1, id2, jaccard) bit-identical — pinned here against a direct
    string-gram recomputation so a future refactor cannot silently
    change what the oracle-paired queries return."""
    from icerunner_spark.functions.text import char_ngrams, normalize_ws

    out = {
        (r["id1"], r["id2"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(
            docs_with_dups, "doc_id", "text", n=4, threshold=0.3
        ).collect()
    }
    sets = docs_with_dups.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(
            char_ngrams(normalize_ws("text"), 4, normalized=True)
        ).alias("g"),
    )
    grams = sets.select("id", F.explode("g").alias("gram"))
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    ref = {
        (r["id1"], r["id2"], round(r["jaccard"], 9))
        for r in inter.join(
            sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1")), "id1"
        )
        .join(sizes.select(F.col("id").alias("id2"), F.col("sz").alias("sz2")), "id2")
        .select(
            "id1",
            "id2",
            (F.col("i") / (F.col("sz1") + F.col("sz2") - F.col("i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.3)
        .collect()
    }
    assert ref, "fixture must contain near-dup pairs"
    assert out == ref


def test_prefix_filter_equals_inverted_index(spark, docs_with_dups):
    """prefix_jaccard_pairs must return EXACTLY the inverted-index
    result at the same (n, threshold) — the prefix theorem says the
    pruned candidate set loses no t-similar pair, and the verify stage
    recomputes the same exact Jaccard. Checked at two thresholds to
    exercise different prefix lengths."""
    from icerunner_spark.operators.dedup import prefix_jaccard_pairs

    for thr in (0.4, 0.7):
        exact = {
            (r["id1"], r["id2"], round(r["jaccard"], 9))
            for r in ngram_jaccard_pairs(
                docs_with_dups, "doc_id", "text", n=4, threshold=thr
            ).collect()
        }
        pruned = {
            (r["id1"], r["id2"], round(r["jaccard"], 9))
            for r in prefix_jaccard_pairs(
                docs_with_dups, "doc_id", "text", n=4, threshold=thr
            ).collect()
        }
        assert exact, "fixture must contain near-dup pairs"
        assert pruned == exact, (
            f"thr={thr}: missed={sorted(exact - pruned)[:5]} "
            f"extra={sorted(pruned - exact)[:5]}"
        )


def test_prefix_filter_prunes_join_volume(spark, docs_with_dups):
    """The point of prefix filtering is a smaller candidate JOIN: the
    cost driver of the inverted-index join is sum_g C(df_g, 2) (every
    co-occurrence of every shared gram), and the prefix join must cut
    it hard because hot grams never enter a prefix. Distinct PAIR
    counts barely move on this 520-doc fixture (nearly every doc pair
    shares some rare 4-gram), so the pin is on join volume — measured
    4.1x smaller at thr=0.4 and 18.8x at thr=0.7; asserted with slack."""
    from icerunner_spark.functions.text import normalize_ws
    from icerunner_spark.operators.dedup import char_ngrams

    grams = docs_with_dups.select(
        F.col("doc_id").alias("id"), normalize_ws("text").alias("__norm")
    ).select(
        "id",
        F.explode(F.array_distinct(char_ngrams(F.col("__norm"), 4, normalized=True))).alias("gram"),
    )
    dfreq = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))

    def volume(df_per_key):
        return df_per_key.select(
            F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("v")
        ).collect()[0]["v"]

    full_volume = volume(dfreq)
    for thr, bound in ((0.4, 0.5), (0.7, 0.15)):
        sized = (
            grams.join(dfreq, "gram")
            .groupBy("id")
            .agg(F.sort_array(F.collect_list(F.struct("df", "gram"))).alias("toks"))
            .select("id", F.col("toks.gram").alias("grams"), F.size("toks").alias("sz"))
            .withColumn(
                "pfx_len",
                F.col("sz") - F.ceil(F.lit(thr) * F.col("sz")).cast("int") + F.lit(1),
            )
        )
        pfx = sized.select(
            "id", F.explode(F.slice("grams", F.lit(1), F.col("pfx_len"))).alias("gram")
        )
        pruned_volume = volume(
            pfx.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
        )
        assert pruned_volume < full_volume * bound, (
            f"thr={thr}: prefix join volume {pruned_volume:.0f} vs full "
            f"{full_volume:.0f} — expected < {bound:.0%}"
        )


def test_simhash_finds_planted_dups(spark, docs_with_dups):
    pairs = simhash_neardup_pairs(docs_with_dups, "doc_id", "text", max_distance=6)
    found = {(r["id1"], r["id2"]) for r in pairs.collect()}
    planted = {(i, i + 100000) for i in range(20)}
    hit = len(found & planted) / len(planted)
    # measured on fixtures: 19/20 planted pairs at distance <= 6
    assert hit >= 0.9, f"simhash found only {hit:.0%} of planted near-dups"


def test_simhash_bucket_cap_bounds_candidates(spark):
    """Skew guard: a degenerate corpus (many docs sharing signature
    chunks) must NOT produce ~n^2/2^chunk_bits candidate pairs — buckets
    above ``max_bucket`` are dropped entirely, so a 300-copy corpus with
    a 50-doc cap yields zero pairs instead of ~45k."""
    rows = [(i, "the same exact document text repeated everywhere") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = simhash_neardup_pairs(df, "doc_id", "text", max_bucket=50)
    assert out.count() == 0
    # and with the cap above the corpus size the exact pairs come back
    out2 = simhash_neardup_pairs(df, "doc_id", "text", max_bucket=500)
    assert out2.count() == 300 * 299 // 2


def test_simhash_16bit_chunks_match_8bit_at_small_distance(spark, docs_with_dups):
    """distance<=3 auto-selects 4x16-bit chunks (65536 bucket values vs
    256 — far fewer degenerate collisions at corpus scale). Both chunkings
    are exact for d<=3 by the pigeonhole guarantee, so the pair sets must
    be identical."""
    wide = simhash_neardup_pairs(docs_with_dups, "doc_id", "text", max_distance=3, chunk_bits=8)
    narrow = simhash_neardup_pairs(docs_with_dups, "doc_id", "text", max_distance=3)
    w = {(r["id1"], r["id2"], r["distance"]) for r in wide.collect()}
    n = {(r["id1"], r["id2"], r["distance"]) for r in narrow.collect()}
    assert w == n


def _planted_corpus(spark, base, *, n_background=100, n_queries=10, n_plant=5, eps=0.15):
    """Clustered ANN corpus: uniform background vectors plus ``n_plant``
    small perturbations of each query seed — so every query's true top-k
    is angularly close, the structure real embedding corpora have (the
    raw fixture vectors are near-uniform: no sublinear index can beat
    its candidate fraction there)."""
    import math
    import random

    rng = random.Random(7)
    dim = len(base[0])

    def perturb(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x + rng.gauss(0, eps * n / math.sqrt(dim)) for x in v]

    corpus = [(i, v) for i, v in enumerate(base[:n_background])]
    queries, nid = [], 1000
    for qi in range(n_queries):
        seed_vec = base[n_background + qi]
        queries.append((qi, seed_vec))
        for _ in range(n_plant):
            corpus.append((nid, perturb(seed_vec)))
            nid += 1
    cdf = spark.createDataFrame(corpus, "vec_id long, embedding array<double>").cache()
    cdf.count()
    return cdf, queries


@pytest.fixture(scope="module")
def fixture_embeddings(spark):
    return load_table(spark, "embeddings", SF).filter(F.col("vec_id") != 0).cache()


def test_ann_lsh_candidate_fraction_bounded(spark, fixture_embeddings):
    """The registry config (8 planes, hamming<=2 probes = 37/256 buckets)
    must touch <25% of the corpus — below that an LSH 'index' is just a
    slightly-filtered scan (the r1-r2 config probed 69%)."""
    from icerunner_spark.operators.similarity import (
        _hyperplanes,
        _signature_probes,
        lsh_signature,
    )

    e = fixture_embeddings
    row = load_table(spark, "embeddings", SF).filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in row["embedding"]]
    planes = _hyperplanes(len(q), 8, 42)
    sig = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(q, plane)) >= 0:
            sig |= 1 << p
    probes = _signature_probes(sig, 8, 2)
    n_cand = (
        e.withColumn("s", lsh_signature("embedding", planes))
        .filter(F.col("s").isin(probes))
        .count()
    )
    frac = n_cand / e.count()
    assert frac < 0.25, f"ann_lsh candidate fraction {frac:.2f} >= 0.25"
    # rescoring is exact: any overlap with brute force carries identical sims
    exact = {r["vec_id"]: r["cos_sim"] for r in cosine_topk(e, q, k=10).collect()}
    approx = {
        r["vec_id"]: r["cos_sim"]
        for r in ann_lsh_topk(e, q, k=10, n_planes=8, probe_hamming=2).collect()
    }
    for vid in set(exact) & set(approx):
        assert abs(exact[vid] - approx[vid]) < 1e-12


def test_ann_lsh_recall_on_clustered_corpus(spark, fixture_embeddings):
    """On clustered data the same config that probes <25% of the corpus
    must find essentially all true neighbors (measured 1.0)."""
    base = [[float(x) for x in r["embedding"]] for r in fixture_embeddings.limit(110).collect()]
    cdf, queries = _planted_corpus(spark, base)
    recalls = []
    for _, qv in queries:
        exact = {r["vec_id"] for r in cosine_topk(cdf, qv, k=5).collect()}
        approx = {
            r["vec_id"]
            for r in ann_lsh_topk(cdf, qv, k=5, n_planes=8, probe_hamming=2).collect()
        }
        recalls.append(len(exact & approx) / 5)
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"clustered ann recall {mean_recall:.2f} below pin"


@pytest.mark.parametrize(
    "generator, kwargs",
    [
        ("ann_lsh_topk", {"n_planes": 4, "probe_hamming": 4}),
        ("ivf_topk", {"n_centroids": 8, "n_probe": 8}),
        ("pq_topk", {"rerank": 50}),
    ],
)
def test_full_probe_equals_brute_force(spark, fixture_embeddings, generator, kwargs):
    """Every candidate generator ends in the same exact rescore, so one
    that passes the whole corpus (all 2^n_planes buckets, all cells, or
    k*rerank >= the corpus rows) returns brute force's ids AND cos_sim
    values exactly."""
    from icerunner_spark.operators import similarity

    e = fixture_embeddings
    if generator == "pq_topk":
        assert 10 * kwargs["rerank"] >= e.count()  # every row is rescored
    row = load_table(spark, "embeddings", SF).filter(F.col("vec_id") == 0).first()
    q = [float(x) for x in row["embedding"]]
    exact = [(r["vec_id"], r["cos_sim"]) for r in cosine_topk(e, q, k=10).collect()]
    got = getattr(similarity, generator)(e, q, k=10, **kwargs).collect()
    assert [(r["vec_id"], r["cos_sim"]) for r in got] == exact


def test_analyze_documents_profile(spark):
    d = load_table(spark, "documents", SF)
    out = analyze_documents(d).collect()
    assert len(out) == d.count()
    for r in out[:50]:
        assert 0.0 <= r["quality"] <= 1.0
        assert r["n_tokens"] > 0


def test_asof_forward_direction(spark):
    left = spark.createDataFrame([(1, 10), (1, 20)], "k int, t int")
    right = spark.createDataFrame([(1, 12, "a"), (1, 25, "b")], "k int, t int, v string")
    out = asof_join(
        left, right, left_on="k", right_on="k", left_time="t", right_time="t",
        right_values=["v"], direction="forward",
    )
    got = {r["t"]: r["v"] for r in out.collect()}
    assert got == {10: "a", 20: "b"}


def test_asof_backward_tie_inclusive(spark):
    left = spark.createDataFrame([(1, 10)], "k int, t int")
    right = spark.createDataFrame([(1, 10, "same")], "k int, t int, v string")
    out = asof_join(
        left, right, left_on="k", right_on="k", left_time="t", right_time="t",
        right_values=["v"],
    )
    assert out.first()["v"] == "same"


class TestWinnowing:
    def test_shared_substring_shares_fingerprints(self, spark):
        from icerunner_spark.functions.text import winnowing_fingerprints
        from pyspark.sql import functions as F

        shared = "the quick brown fox jumps over the lazy dog near the river bank"
        docs = spark.createDataFrame(
            [
                (1, f"AAA {shared} BBB unrelated tail one"),
                (2, f"CCC completely different head {shared} DDD"),
                (3, "nothing in common with the others at all, different words"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: set(r["fps"])
            for r in docs.select(
                "doc_id", winnowing_fingerprints("text").alias("fps")
            ).collect()
        }
        # winnowing guarantee: shared substring of len >= k+window-1 (11)
        # produces common fingerprints between 1 and 2
        assert len(out[1] & out[2]) >= 5
        # the unrelated doc shares (almost) nothing
        assert len(out[1] & out[3]) <= 1

    def test_deterministic(self, spark):
        from icerunner_spark.functions.text import winnowing_fingerprints

        docs = spark.createDataFrame(
            [(1, "determinism check text for winnowing")], "doc_id long, text string"
        )
        a = docs.select(winnowing_fingerprints("text").alias("f")).collect()[0]["f"]
        b = docs.select(winnowing_fingerprints("text").alias("f")).collect()[0]["f"]
        assert a == b and len(a) > 0

    def test_table_variant_matches_column_variant(self, spark):
        from icerunner_spark.functions.text import winnowing_fingerprints
        from icerunner_spark.operators.text import winnowing_fingerprint_table
        from icerunner_spark.sources.testdata import load_table

        d = load_table(spark, "documents", SF).limit(50)
        col_v = {
            r["doc_id"]: sorted(r["f"])
            for r in d.select(
                "doc_id", winnowing_fingerprints("text").alias("f")
            ).collect()
        }
        tab_v = {
            r["id"]: sorted(r["fps"])
            for r in winnowing_fingerprint_table(d, "doc_id", "text").collect()
        }
        assert col_v == tab_v


class TestIVF:
    def test_ivf_recall_against_bruteforce(self, spark):
        from icerunner_spark.operators.similarity import cosine_topk, ivf_topk

        e = load_table(spark, "embeddings", SF)
        recalls = []
        for qid in range(5):
            row = e.filter(F.col("vec_id") == qid).first()
            q = [float(x) for x in row["embedding"]]
            cand = e.filter(F.col("vec_id") != qid)
            exact = {
                r["vec_id"]: r["cos_sim"] for r in cosine_topk(cand, q, k=10).collect()
            }
            approx = {
                r["vec_id"]: r["cos_sim"]
                for r in ivf_topk(cand, q, k=10, n_centroids=16, n_probe=6).collect()
            }
            recalls.append(len(set(exact) & set(approx)) / 10)
            for vid in set(exact) & set(approx):
                assert abs(exact[vid] - approx[vid]) < 1e-12  # rescoring exact
        # near-uniform fixture vectors (hard mode): probing 6/16 cells must
        # find most of the true top-10. Two Lloyd iterations lifted the
        # measured mean 0.58 -> 0.74; pinned with margin (was 0.5
        # single-query pre-Lloyd).
        mean = sum(recalls) / len(recalls)
        assert mean >= 0.6, f"ivf mean recall {mean} below pin ({recalls})"

    def test_ivf_topk_rejects_wrong_query_dimension(self, spark):
        """A query shorter than the centroids would rank cells on a
        truncating zip and score every row NULL; it must raise instead."""
        from icerunner_spark.operators.similarity import ivf_topk

        df = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        cents = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
        with pytest.raises(ValueError, match=r"dimension 3 .* dimension 4"):
            ivf_topk(df, [1.0, 0.0, 0.0], k=1, n_probe=1, centroids=cents)

    def test_ivf_assign_covers_all_cells_input(self, spark):
        from icerunner_spark.operators.similarity import (
            _deterministic_centroids,
            ivf_assign,
        )

        e = load_table(spark, "embeddings", SF)
        cents = _deterministic_centroids(
            e, vec_col="embedding", id_col="vec_id", n_centroids=8
        )
        assert len(cents) == 8
        out = ivf_assign(e, cents)
        cells = {r["__ivf_cell"] for r in out.select("__ivf_cell").distinct().collect()}
        assert cells <= set(range(8))
        assert out.count() == e.count()

    def test_ivf_assign_null_and_ragged_vectors(self, spark):
        """Dirty embedding data (NULL vectors, wrong dimensionality) must
        assign NULL cells, not fail the task — same null propagation as
        the pure-Catalyst formulation this replaced (ADVICE r4)."""
        from icerunner_spark.operators.similarity import (
            _deterministic_centroids,
            ivf_assign,
        )

        e = load_table(spark, "embeddings", SF).limit(60)
        cents = _deterministic_centroids(
            e, vec_col="embedding", id_col="vec_id", n_centroids=4
        )
        dirty = e.withColumn(
            "embedding",
            F.when(F.col("vec_id") % 7 == 0, F.lit(None).cast("array<float>"))
            .when(F.col("vec_id") % 7 == 1, F.slice("embedding", 1, 3))
            .otherwise(F.col("embedding")),
        )
        for r in ivf_assign(dirty, cents).select("vec_id", "__ivf_cell").collect():
            if r["vec_id"] % 7 in (0, 1):
                assert r["__ivf_cell"] is None
            else:
                assert r["__ivf_cell"] is not None and 0 <= r["__ivf_cell"] < 4


class TestUDTF:
    def test_split_tokens_matches_jvm_explode(self, spark):
        """UDTF lateral expansion must equal the JVM explode(split())
        spelling row-for-row — proving the Python table-function path is
        a correct (if slower) spelling of the same operator."""
        from icerunner_spark.functions.udtfs import register_udtfs

        register_udtfs(spark)
        d = load_table(spark, "documents", SF).filter(F.col("doc_id") < 25)
        d.createOrReplaceTempView("docs_udtf_t")
        via_udtf = {
            (r["doc_id"], r["pos"], r["token"])
            for r in spark.sql(
                "SELECT d.doc_id, s.pos, s.token "
                "FROM docs_udtf_t d, LATERAL split_tokens(d.text) s"
            ).collect()
        }
        via_jvm = {
            (r["doc_id"], r["pos"], r["token"])
            for r in d.select(
                "doc_id",
                F.posexplode(F.split("text", " ", -1)).alias("pos", "token"),
            ).collect()
        }
        assert via_udtf == via_jvm and len(via_udtf) > 0


class TestApproxAggregates:
    def test_hll_distinct_error_pin(self, spark):
        from icerunner_spark.queries import approx_distinct_parts

        sf_dir = SF
        got = {
            r["l_returnflag"]: r["approx_parts"]
            for r in approx_distinct_parts(spark, sf_dir).collect()
        }
        li = load_table(spark, "lineitem", sf_dir)
        exact = {
            r["l_returnflag"]: r["exact"]
            for r in li.groupBy("l_returnflag")
            .agg(F.countDistinct("l_partkey").alias("exact"))
            .collect()
        }
        assert set(got) == set(exact)
        for k in exact:
            rel = abs(got[k] - exact[k]) / exact[k]
            assert rel < 0.05, f"{k}: HLL rel error {rel:.3f} exceeds 5%"

    def test_hll_sketch_union_consistency(self, spark):
        from icerunner_spark.queries import hll_sketch_union_parts

        row = hll_sketch_union_parts(spark, SF).first()
        o = load_table(spark, "orders", SF)
        exact = o.select(F.countDistinct("o_custkey")).first()[0]
        assert row["n_rows_total"] == o.count()
        rel = abs(row["approx_custkeys"] - exact) / exact
        assert rel < 0.05, f"unioned sketch rel error {rel:.3f} exceeds 5%"

    def test_approx_quantiles_rank_error(self, spark):
        from icerunner_spark.queries import approx_quantiles_totalprice

        rows = {r["o_orderstatus"]: r for r in approx_quantiles_totalprice(spark, SF).collect()}
        o = load_table(spark, "orders", SF).select(
            "o_orderstatus", F.col("o_totalprice").cast("double").alias("v")
        )
        import numpy as np

        pdf = o.toPandas()
        for status, grp in pdf.groupby("o_orderstatus"):
            v = np.sort(grp["v"].to_numpy())
            n = len(v)
            for q, col in ((0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.95, "p95")):
                got = rows[status][col]
                # GK guarantee: returned value's rank within eps*n of target
                rank = np.searchsorted(v, got, side="right")
                assert abs(rank - q * n) <= max(2.0, 1e-3 * n), (
                    f"{status} {col}: rank {rank} vs target {q * n:.0f} (n={n})"
                )


class TestKnnJoin:
    def test_knn_join_recall_on_clustered_corpus(self, spark):
        from icerunner_spark.operators.similarity import cosine_topk, knn_join

        e = load_table(spark, "embeddings", SF).filter(F.col("vec_id") != 0)
        base = [[float(x) for x in r["embedding"]] for r in e.limit(110).collect()]
        cdf, queries = _planted_corpus(spark, base)
        qdf = spark.createDataFrame(queries, "q_id long, embedding array<double>")
        got = knn_join(qdf, cdf, k=5, n_planes=8, probe_hamming=2)
        by_q = {}
        for r in got.collect():
            by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
        recalls = []
        for qid, qv in queries:
            exact = {r["vec_id"] for r in cosine_topk(cdf, qv, k=5).collect()}
            approx = by_q.get(qid, set())
            assert len(approx) <= 5
            recalls.append(len(exact & approx) / 5)
        mean_recall = sum(recalls) / len(recalls)
        # clustered corpus (the workload shape): <25% of buckets probed
        # must find essentially all true neighbors (measured 1.0)
        assert mean_recall >= 0.9, f"knn_join mean recall {mean_recall:.2f}"

    def test_knn_join_candidate_fraction_bounded(self, spark):
        """The registry config (8 planes, hamming<=2 = 37/256 buckets per
        query) must touch <25% of |Q|x|C| — the same not-an-index guard as
        the single-query path (the r1-r2 6-plane config probed 34%)."""
        from icerunner_spark.operators.similarity import (
            _hyperplanes,
            _signature_probes,
            lsh_signature,
        )

        e = load_table(spark, "embeddings", SF)
        queries = e.filter(F.col("vec_id") < 8).collect()
        corpus = e.filter(F.col("vec_id") >= 8).cache()
        n_c = corpus.count()
        dim = len(queries[0]["embedding"])
        planes = _hyperplanes(dim, 8, 42)
        sig_counts = {
            r["s"]: r["n"]
            for r in corpus.withColumn("s", lsh_signature("embedding", planes))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        total_pairs = 0
        for qrow in queries:
            qv = [float(x) for x in qrow["embedding"]]
            sig = 0
            for p, plane in enumerate(planes):
                if sum(a * b for a, b in zip(qv, plane)) >= 0:
                    sig |= 1 << p
            for probe in _signature_probes(sig, 8, 2):
                total_pairs += sig_counts.get(probe, 0)
        frac = total_pairs / (len(queries) * n_c)
        assert frac < 0.25, f"knn_join candidate fraction {frac:.2f} >= 0.25"

    def test_knn_join_no_duplicate_pairs_and_k_bound(self, spark):
        from icerunner_spark.operators.similarity import knn_join

        e = load_table(spark, "embeddings", SF)
        queries_df = e.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("q_id"), "embedding"
        )
        corpus = e.filter(F.col("vec_id") >= 8)
        out = knn_join(queries_df, corpus, k=5).collect()
        pairs = [(r["q_id"], r["vec_id"]) for r in out]
        assert len(pairs) == len(set(pairs)), "duplicate candidate pairs"
        from collections import Counter

        assert all(v <= 5 for v in Counter(p[0] for p in pairs).values())


class TestSaltedJoin:
    def test_salted_join_equals_plain_join(self, spark):
        from icerunner_spark.operators.skew import salted_join

        e = load_table(spark, "events", SF).select("event_id", "user_id", "value")
        # synthetic power-law key: ~90% of rows share key 0
        skewed = e.withColumn(
            "k",
            F.when(F.col("event_id") % 10 < 9, F.lit(0)).otherwise(
                F.col("event_id") % 100
            ),
        )
        dim = spark.range(0, 100).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("weight")
        )
        plain = skewed.join(dim, "k").select("event_id", "k", "weight")
        salted = salted_join(
            skewed, dim, "k", salt_by="event_id", n_salts=8
        ).select("event_id", "k", "weight")
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )

    def test_salt_spreads_hot_key(self, spark):
        from icerunner_spark.operators.skew import salted_join  # noqa: F401

        e = load_table(spark, "events", SF).select("event_id")
        hot = e.withColumn("k", F.lit(0))
        salts = (
            hot.withColumn(
                "s", F.pmod(F.xxhash64(F.col("event_id").cast("string")), F.lit(8))
            )
            .groupBy("s")
            .count()
            .collect()
        )
        counts = {r["s"]: r["count"] for r in salts}
        total = sum(counts.values())
        assert len(counts) == 8
        # deterministic hash spread: no salt bucket holds > 2x its share
        assert max(counts.values()) < 2 * total / 8


class TestGroupedTrends:
    def test_vectorized_equals_per_group(self, spark):
        """mapInPandas whole-partition variant must reproduce the
        per-group applyInPandas answers (to oracle rounding)."""
        from icerunner_spark.operators.grouped import (
            user_value_trends,
            user_value_trends_vectorized,
        )

        e = load_table(spark, "events", SF)

        def rounded(df):
            return {
                r["user_id"]: (
                    r["n_events"],
                    None if r["slope"] is None else round(r["slope"], 12),
                    None if r["intercept"] is None else round(r["intercept"], 2),
                    round(r["mean_value"], 6),
                )
                for r in df.collect()
            }

        a = rounded(user_value_trends(e))
        b = rounded(user_value_trends_vectorized(e))
        assert a == b


class TestQuantization:
    def test_int8_quantization_roundtrip_error(self, spark):
        from icerunner_spark.operators.similarity import (
            dequantize,
            quantize_embeddings,
        )

        e = load_table(spark, "embeddings", SF)
        qz = quantize_embeddings(e)
        # reconstruction error bounded by scale/2 per element
        err = qz.select(
            F.array_max(
                F.zip_with(
                    F.transform("embedding", lambda x: x.cast("double")),
                    dequantize("q_embedding", "q_scale"),
                    lambda a, b: F.abs(a - b),
                )
            ).alias("max_err"),
            F.col("q_scale"),
        )
        bad = err.filter(F.col("max_err") > F.col("q_scale") * 0.5 + 1e-12)
        assert bad.count() == 0

    def test_quantized_topk_recall(self, spark):
        from icerunner_spark.operators.similarity import (
            cosine_topk,
            dequantize,
            quantize_embeddings,
        )

        e = load_table(spark, "embeddings", SF)
        row = e.filter(F.col("vec_id") == 0).first()
        q = [float(x) for x in row["embedding"]]
        cand = e.filter(F.col("vec_id") != 0)
        exact = [r["vec_id"] for r in cosine_topk(cand, q, k=10).collect()]
        qz = quantize_embeddings(cand).select(
            "vec_id", dequantize("q_embedding", "q_scale").alias("embedding")
        )
        approx = [r["vec_id"] for r in cosine_topk(qz, q, k=10).collect()]
        recall = len(set(exact) & set(approx)) / 10
        assert recall >= 0.8, f"int8 top-k recall {recall} below pin"


def test_asof_rejects_colliding_right_values(spark):
    """ADVICE r1: right_values overlapping left columns (or the reserved
    markers) must fail loudly, not produce ambiguous columns."""
    from icerunner_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10, "x")], "k long, t long, v string")
    right = spark.createDataFrame([(1, 5, "y")], "k long, t long, v string")
    with pytest.raises(ValueError, match="collide"):
        asof_join(
            left, right,
            left_on="k", right_on="k",
            left_time="t", right_time="t",
            right_values=["v"],
        )


def test_pii_redaction_on_planted_pii(spark):
    from icerunner_spark.functions.text import pii_counts, redact_pii

    rows = [
        (0, "contact john.doe+spam@corp-mail.example.com or call 555-867-5309 x2"),
        (1, "ssn 123-45-6789 leaked from 192.168.1.254 at 3pm"),
        (2, "+1 (415) 555-1234 is the hotline; backup 415.555.9876"),
        (3, "nothing sensitive here, just 42 numbers and words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    counts = pii_counts("text")
    out = df.select(
        "doc_id",
        redact_pii("text").alias("red"),
        *[c.alias(f"n_{k}") for k, c in counts.items()],
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert "<EMAIL>" in by_id[0]["red"] and "@" not in by_id[0]["red"]
    assert by_id[1]["n_ssn"] == 1 and "<SSN>" in by_id[1]["red"]
    assert by_id[1]["n_ipv4"] == 1 and "192.168" not in by_id[1]["red"]
    assert by_id[2]["n_phone"] == 2 and by_id[2]["red"].count("<PHONE>") == 2
    assert by_id[3]["red"] == rows[3][1]  # clean text passes through untouched


def test_capped_topk_two_phase_equals_single_phase(spark):
    """Two-phase hot-key cap == single-phase window top-k, row for row —
    the equality that makes the skew-safe form a drop-in."""
    from pyspark.sql import Window

    from icerunner_spark.operators.skew import capped_topk_per_key
    from icerunner_spark.sources.testdata import load_table

    d = load_table(spark, "documents", "/root/testdata/sf0.01")
    order = [F.desc("n_chars"), F.asc("doc_id")]
    two = capped_topk_per_key(
        d, "source", order, 10, salt_by="doc_id", n_salts=4
    ).select("doc_id", "source", "rk")
    w = Window.partitionBy("source").orderBy(*order)
    one = (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("doc_id", "source", "rk")
    )
    assert sorted(map(tuple, two.collect())) == sorted(map(tuple, one.collect()))
    # every key hit its cap (sources have >=25 docs at sf0.01)
    assert two.count() == two.select("source").distinct().count() * 10


class TestProductQuantization:
    def test_pq_code_width_and_determinism(self, spark):
        from icerunner_spark.operators.similarity import pq_encode, pq_train_codebooks

        e = load_table(spark, "embeddings", SF)
        books = pq_train_codebooks(e, m=4, n_codes=16)
        assert len(books) == 4 and len(books[0]) == 16 and len(books[0][0]) == 16
        enc = pq_encode(e, books).select("vec_id", "pq_code")
        rows = {r["vec_id"]: list(r["pq_code"]) for r in enc.collect()}
        # m ints per row (vs 64 floats), every code in range
        assert all(len(c) == 4 and all(0 <= x < 16 for x in c) for c in rows.values())
        # deterministic: re-encoding yields identical codes
        rows2 = {r["vec_id"]: list(r["pq_code"]) for r in pq_encode(e, books).collect()}
        assert rows == rows2

    def test_pq_encode_null_and_ragged_vectors(self, spark):
        """NULL / wrong-dimension vectors encode to NULL codes instead of
        failing the Arrow batch (ADVICE r4)."""
        from icerunner_spark.operators.similarity import pq_encode, pq_train_codebooks

        e = load_table(spark, "embeddings", SF).limit(60)
        books = pq_train_codebooks(e, m=4, n_codes=8)
        dirty = e.withColumn(
            "embedding",
            F.when(F.col("vec_id") % 7 == 0, F.lit(None).cast("array<float>"))
            .when(F.col("vec_id") % 7 == 1, F.slice("embedding", 1, 5))
            .otherwise(F.col("embedding")),
        )
        for r in pq_encode(dirty, books).select("vec_id", "pq_code").collect():
            if r["vec_id"] % 7 in (0, 1):
                assert r["pq_code"] is None
            else:
                assert len(r["pq_code"]) == 4

    def test_pq_topk_rejects_wrong_query_dimension(self, spark):
        """A query whose length is not the codebooks' m * sub would be
        sliced into misaligned subspaces; it must raise instead."""
        from icerunner_spark.operators.similarity import pq_topk

        df = spark.createDataFrame(
            [(1, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
        )
        books = [[[1.0, 0.0], [0.0, 1.0]], [[1.0, 0.0], [0.0, 1.0]]]
        with pytest.raises(ValueError, match=r"dimension 5 .* dimension 4"):
            pq_topk(df, [1.0, 0.0, 0.0, 0.0, 0.0], k=1, codebooks=books)

    def test_pq_recall_against_bruteforce(self, spark):
        from icerunner_spark.operators.similarity import cosine_topk, pq_topk

        e = load_table(spark, "embeddings", SF)
        recalls = []
        for qid in range(5):
            row = e.filter(F.col("vec_id") == qid).first()
            q = [float(x) for x in row["embedding"]]
            cand = e.filter(F.col("vec_id") != qid)
            exact = {
                r["vec_id"]: r["cos_sim"] for r in cosine_topk(cand, q, k=10).collect()
            }
            approx = {
                r["vec_id"]: r["cos_sim"]
                for r in pq_topk(cand, q, k=10, rerank=16).collect()
            }
            recalls.append(len(set(exact) & set(approx)) / 10)
            # rescoring is exact: overlapping ids carry identical sims
            for vid in set(exact) & set(approx):
                assert abs(exact[vid] - approx[vid]) < 1e-12
        # near-uniform fixture vectors are PQ's textbook worst case (no
        # cluster structure for the codebooks to exploit): two Lloyd
        # iterations per subspace lifted the measured mean 0.5 -> 0.76;
        # pinned with margin (was 0.4 single-query pre-Lloyd). The
        # clustered-corpus pin below is the workload-shaped guarantee.
        mean = sum(recalls) / len(recalls)
        assert mean >= 0.6, f"pq mean recall {mean} below pin ({recalls})"

    def test_pq_recall_on_clustered_corpus(self, spark, fixture_embeddings):
        from icerunner_spark.operators.similarity import cosine_topk, pq_topk

        base = [
            [float(x) for x in r["embedding"]]
            for r in fixture_embeddings.limit(110).collect()
        ]
        cdf, queries = _planted_corpus(spark, base)
        recalls = []
        for _, qv in queries:
            exact = {r["vec_id"] for r in cosine_topk(cdf, qv, k=5).collect()}
            approx = {
                r["vec_id"] for r in pq_topk(cdf, qv, k=5, rerank=8).collect()
            }
            recalls.append(len(exact & approx) / 5)
        mean_recall = sum(recalls) / len(recalls)
        assert mean_recall >= 0.9, f"clustered pq recall {mean_recall:.2f} below pin"


# --------------------------------------------------------------------------- #
# BPE tokenizer training (operators/bpe.py)
# --------------------------------------------------------------------------- #


def _python_bpe(texts: list[str], n_merges: int) -> list[tuple[str, str, int]]:
    """Classic reference BPE trainer: word counts, then per-round argmax
    pair (count desc, lexicographic tie-break) and greedy left-to-right
    non-overlapping merge application. Mirrors the tokenization of
    functions.text.tokens."""
    import collections
    import re

    token_re = re.compile(r"[a-z]+|[0-9]+|[^a-z0-9\s]")
    wc = collections.Counter()
    for t in texts:
        wc.update(token_re.findall(t.lower()))
    words = {w: (list(w), c) for w, c in wc.items()}
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        pc = collections.Counter()
        for _, (syms, c) in words.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += c
        if not pc:
            break
        mx = max(pc.values())
        if mx < 2:
            break
        left, right = sorted(p for p, n in pc.items() if n == mx)[0]
        merges.append((left, right, mx))
        m = left + right
        for w, (syms, c) in words.items():
            out: list[str] = []
            for s in syms:
                if out and out[-1] == left and s == right:
                    out[-1] = m
                else:
                    out.append(s)
            words[w] = (out, c)
    return merges


def test_bpe_train_matches_python_reference(spark):
    from icerunner_spark.operators.bpe import bpe_train_corpus

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    got = [
        (r["left"], r["right"], r["pair_freq"])
        for r in bpe_train_corpus(spark, docs, "text", 32).orderBy("rank").collect()
    ]
    want = _python_bpe([r["text"] for r in docs.select("text").collect()], 32)
    assert got == want
    assert len(got) == 32


def test_bpe_train_local_matches_distributed_loop(spark):
    """The driver-side training path (vocab under driver_vocab_cap) and
    the distributed per-round loop (forced with driver_vocab_cap=0) must
    learn the identical merge table — same argmax tie-break, same greedy
    fold — so the adaptive cut-over is result-invisible."""
    from icerunner_spark.operators.bpe import bpe_train, word_frequencies

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    wf = word_frequencies(docs, "text")
    local = bpe_train(wf, 12)
    dist = bpe_train(wf, 12, driver_vocab_cap=0)
    assert local == dist
    assert len(local) == 12


def test_bpe_merge_fold_overlap(spark):
    """Greedy left-to-right: 'aaa' under merge (a,a) becomes [aa, a] —
    a just-merged symbol must not re-merge as the right half."""
    from icerunner_spark.operators.bpe import _merge_fold

    df = spark.createDataFrame([(["a", "a", "a"],)], "syms array<string>")
    out = df.select(_merge_fold(F.col("syms"), "a", "a").alias("m")).first()["m"]
    assert out == ["aa", "a"]


def test_bpe_train_early_stop(spark):
    """Every pair unique -> frequencies of 1 -> min_freq=2 stops at 0."""
    from icerunner_spark.operators.bpe import bpe_train, word_frequencies

    df = spark.createDataFrame([(1, "ab cd ef")], ["i", "text"])
    merges = bpe_train(word_frequencies(df, "text"), 8)
    assert merges == []


def test_bpe_encode_matches_python_reference(spark):
    """The Spark encoder (pandas UDF) must replay the merge table exactly
    like the shared pure-Python encode_word — and encoding a training
    word must reproduce its final training-time segmentation."""
    import re

    from icerunner_spark.functions.text import _TOKEN_RE
    from icerunner_spark.operators.bpe import (
        bpe_encode,
        bpe_train,
        encode_word,
        word_frequencies,
    )

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    merges = [
        (le, r)
        for le, r, _f in bpe_train(word_frequencies(docs, "text"), 16)
    ]
    got = {
        r["doc_id"]: list(r["bpe_tokens"])
        for r in bpe_encode(docs, "text", merges).select("doc_id", "bpe_tokens").collect()
    }
    pat = re.compile(_TOKEN_RE)
    for r in docs.select("doc_id", "text").collect():
        want = []
        for w in pat.findall(r["text"].lower()):
            want.extend(encode_word(w, merges))
        assert got[r["doc_id"]] == want, r["doc_id"]
        # lossless: concatenating the symbols restores the tokens
        assert "".join(want) == "".join(pat.findall(r["text"].lower()))


def test_bpe_encode_word_merge_order():
    """Merge rank order matters: (a,b) then (ab,c) compounds, and an
    earlier merge can enable a later one."""
    from icerunner_spark.operators.bpe import encode_word

    assert encode_word("abc", [("a", "b"), ("ab", "c")]) == ["abc"]
    assert encode_word("abc", [("ab", "c"), ("a", "b")]) == ["ab", "c"]
    assert encode_word("aaa", [("a", "a")]) == ["aa", "a"]


def test_ann_training_survives_tiny_and_dirty_corpora(spark):
    """Lloyd-refined IVF/PQ training on corpora SMALLER than the
    requested centroid/code count (and with dirty rows) degrades to the
    vectors that exist instead of raising IndexError; empty input yields
    an empty result."""
    from icerunner_spark.operators.similarity import (
        ivf_topk,
        pq_train_codebooks,
    )

    tiny = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0, 2.0]) for i in range(5)]
        + [(99, None)],
        "vec_id long, embedding array<double>",
    )
    got = ivf_topk(tiny, [1.0, 0.0, 0.0, 2.0], k=3, n_centroids=16)
    assert got.count() <= 3 and got.count() > 0

    books = pq_train_codebooks(tiny, m=2, n_codes=16)
    assert len(books) == 2 and 0 < len(books[0]) <= 5

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert ivf_topk(empty, [1.0, 0.0, 0.0, 2.0], k=3, n_centroids=8).count() == 0


# --------------------------------------------------------------------------- #
# distributed k-means (operators.clustering)
# --------------------------------------------------------------------------- #


def test_kmeans_separated_blobs_and_determinism(spark):
    """Two well-separated blobs must split into their own clusters, and
    training twice must be bit-identical (decimal-exact means)."""
    from icerunner_spark.operators.clustering import kmeans

    rows = [(i, [0.0 + (i % 5) * 0.01, 0.0]) for i in range(20)] + [
        (100 + i, [10.0 + (i % 5) * 0.01, 10.0]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    c1, a1 = kmeans(df, vec_col="embedding", id_col="vec_id", k=2, iters=2)
    c2, a2 = kmeans(df, vec_col="embedding", id_col="vec_id", k=2, iters=2)
    assert c1 == c2
    got1 = {r["vec_id"]: r["cluster_id"] for r in a1.collect()}
    got2 = {r["vec_id"]: r["cluster_id"] for r in a2.collect()}
    assert got1 == got2
    low = {got1[i] for i in range(20)}
    high = {got1[100 + i] for i in range(20)}
    assert len(low) == 1 and len(high) == 1 and low != high


def test_kmeans_inertia_nonincreasing(spark):
    """Lloyd's invariant: total within-cluster distance never grows."""
    from icerunner_spark.operators.clustering import (
        assign_clusters,
        kmeans,
        seed_centroids,
    )

    e = load_table(spark, "embeddings", SF)

    def inertia(cents):
        a = assign_clusters(e, cents, vec_col="embedding", dist_col="d")
        return a.agg(F.sum(F.col("d") * F.col("d"))).first()[0]

    seeds = seed_centroids(e, vec_col="embedding", id_col="vec_id", k=4)
    trained, _ = kmeans(e, vec_col="embedding", id_col="vec_id", k=4, iters=2)
    assert inertia(trained) <= inertia(seeds) + 1e-9


def test_kmeans_null_and_ragged_vectors_degrade(spark):
    """NULL / wrong-length vectors assign NULL cluster, never fail, and
    are excluded from Lloyd means; an empty cluster keeps its centroid."""
    from icerunner_spark.operators.clustering import (
        assign_clusters,
        lloyd_step,
    )

    df = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, None), (4, [1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = [[0.0, 0.0], [50.0, 50.0]]
    a = assign_clusters(df, cents, vec_col="embedding")
    got = {r["vec_id"]: r["cluster_id"] for r in a.collect()}
    assert got[1] == 0 and got[2] == 0
    assert got[3] is None and got[4] is None
    new = lloyd_step(df, cents, vec_col="embedding")
    assert new[1] == [50.0, 50.0]  # empty cluster: centroid retained
    assert new[0] == [0.05, 0.0]  # exact decimal mean of the two members


def test_cluster_balanced_sample_caps_and_is_deterministic(spark):
    from icerunner_spark.operators.clustering import (
        cluster_balanced_sample,
        kmeans,
    )

    e = load_table(spark, "embeddings", SF)
    _, a = kmeans(e, vec_col="embedding", id_col="vec_id", k=4, iters=1)
    s1 = cluster_balanced_sample(a, id_col="vec_id", cap=25)
    sizes = {
        r["cluster_id"]: r["n"]
        for r in s1.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert sizes and all(n <= 25 for n in sizes.values())
    full = {
        r["cluster_id"]: r["n"]
        for r in a.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    for c, n in full.items():
        assert sizes.get(c, 0) == min(n, 25)
    s2 = cluster_balanced_sample(a, id_col="vec_id", cap=25)
    assert {r["vec_id"] for r in s1.collect()} == {
        r["vec_id"] for r in s2.collect()
    }


def test_gopher_quality_flags_rule_semantics(spark):
    """Each Gopher rule flips on exactly the crafted violation: too few
    words, mean word length out of band, symbol spam, non-alpha words,
    missing required function words."""
    from icerunner_spark.operators.text import gopher_quality_flags

    good = "the quick brown fox and the lazy dog have fun with all of " * 4
    rows = [
        (1, good),                                   # passes everything
        (2, "the and of that"),                      # too few words
        (3, "the of " + "a b c d " * 20),            # mean word len < 3
        (4, good + " ###" + " #" * 12),              # symbol ratio > 0.1
        (5, "the of " + "12345 9876 " * 30),         # alpha ratio < 0.8
        (6, "zzz qqq www rrr " * 20),                # no required words
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fl = gopher_quality_flags("text")
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select("doc_id", *[c.alias(n) for n, c in fl.items()]).collect()
    }
    assert out[1]["gopher_pass"] is True
    assert out[2]["pass_word_count"] is False and out[2]["gopher_pass"] is False
    assert out[3]["pass_mean_word_len"] is False
    assert out[4]["pass_symbol_ratio"] is False
    assert out[5]["pass_alpha_words"] is False
    assert out[6]["pass_required_words"] is False
    # every violation doc still passes the rules it was NOT crafted to break
    assert out[2]["pass_required_words"] is True
    assert out[4]["pass_word_count"] is True
    assert out[5]["pass_word_count"] is True


def test_gopher_quality_flags_empty_text(spark):
    from icerunner_spark.operators.text import gopher_quality_flags

    df = spark.createDataFrame([(1, ""), (2, "   ")], ["doc_id", "text"])
    fl = gopher_quality_flags("text")
    for r in df.select(*[c.alias(n) for n, c in fl.items()]).collect():
        assert r["n_words"] == 0
        assert r["gopher_pass"] is False


def test_shared_span_pairs_maximal_span_semantics(spark):
    """A planted 20-token shared run reports exactly one 20-token span;
    two disjoint planted runs report two spans; sub-n overlap reports
    nothing."""
    from icerunner_spark.operators.dedup import shared_span_pairs

    # pure-alpha words: the token regex splits alphanumerics ("tok0" ->
    # "tok","0"), which would silently double every planted run length
    def wtoks(tag, k):
        return " ".join(tag + chr(97 + i // 26) + chr(97 + i % 26) for i in range(k))

    run_a = wtoks("t", 20)                                   # 20-token run
    run_b = wtoks("l", 12)                                   # 12-token run
    rows = [
        (1, wtoks("x", 10) + " " + run_a + " " + wtoks("y", 10)),
        (2, wtoks("z", 5) + " " + run_a + " " + wtoks("w", 15)),
        (3, run_b + " " + wtoks("p", 30)),
        (4, wtoks("q", 30) + " " + run_b),
        (5, wtoks("r", 10) + " " + wtoks("t", 3) + " " + wtoks("s", 10)),  # 3 < n
        (6, run_a + " " + wtoks("u", 8) + " " + run_b),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in shared_span_pairs(df, "doc_id", "text", n=8).collect()
    }
    assert out[(1, 2)]["longest_span_tokens"] == 20
    assert out[(1, 2)]["n_spans"] == 1
    assert out[(3, 4)]["longest_span_tokens"] == 12
    # doc 6 shares run_a with 1,2 and run_b with 3,4 — each as ONE span
    assert out[(1, 6)]["longest_span_tokens"] == 20
    assert out[(3, 6)]["longest_span_tokens"] == 12
    # 6 vs 2: run_a only (run_b absent from 2)
    assert out[(2, 6)]["n_spans"] == 1
    # doc 5's 3-token overlap is below n: never paired
    assert not any(5 in k for k in out)


def test_shared_span_pairs_two_disjoint_runs_one_pair(spark):
    from icerunner_spark.operators.dedup import shared_span_pairs

    def wtoks(tag, k):
        return " ".join(tag + chr(97 + i // 26) + chr(97 + i % 26) for i in range(k))

    r1 = wtoks("a", 10)
    r2 = wtoks("b", 9)
    mid1 = wtoks("m", 12)
    mid2 = wtoks("n", 12)
    df = spark.createDataFrame(
        [(1, r1 + " " + mid1 + " " + r2), (2, r1 + " " + mid2 + " " + r2)],
        ["doc_id", "text"],
    )
    out = shared_span_pairs(df, "doc_id", "text", n=8).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["n_spans"] == 2
    assert r["longest_span_tokens"] == 10
    assert r["total_span_tokens"] == 19


def test_gopher_symbol_rule_counts_unicode_ellipsis(spark):
    """The symbol rule counts both ASCII '...' and U+2026; a document
    dense in either fails pass_symbol_ratio identically."""
    from icerunner_spark.operators.text import gopher_quality_flags

    base = "the and for that with this from they have word " * 3
    rows = [
        (1, base),                                   # clean
        (2, base + " " + "... " * 10),               # ASCII ellipses
        (3, base + " " + "… " * 10),            # Unicode ellipses
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fl = gopher_quality_flags("text")
    out = {
        r["doc_id"]: r.asDict()
        for r in df.select("doc_id", *[c.alias(n) for n, c in fl.items()]).collect()
    }
    assert out[1]["pass_symbol_ratio"] is True
    assert out[2]["pass_symbol_ratio"] is False
    assert out[3]["pass_symbol_ratio"] is False


def test_shared_span_pairs_merges_islands_split_by_max_df(spark):
    """A gram in the middle of a long shared run that exceeds max_df
    splits the run into two overlapping islands; the interval-merge pass
    must report ONE span with the full extent, not two overlapping spans
    whose tokens double-count."""
    from icerunner_spark.operators.dedup import shared_span_pairs

    def wtoks(tag, k):
        return " ".join(tag + chr(97 + i // 26) + chr(97 + i % 26) for i in range(k))

    run = wtoks("t", 30)                     # 30-token shared run
    # the 8-gram starting at run token 11 is planted into `extra_docs`
    # standalone docs so its document frequency exceeds max_df
    mid_gram = " ".join(run.split()[11:19])
    rows = [
        (1, wtoks("x", 5) + " " + run),
        (2, wtoks("z", 5) + " " + run + " " + wtoks("w", 5)),
    ]
    rows += [(100 + i, mid_gram + " " + wtoks("f" + str(i), 8)) for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["id_a"], r["id_b"]): r.asDict()
        for r in shared_span_pairs(df, "doc_id", "text", n=8, max_df=4).collect()
    }
    r = out[(1, 2)]
    assert r["n_spans"] == 1, r
    assert r["longest_span_tokens"] == 30, r
    assert r["total_span_tokens"] == 30, r


def test_shared_span_pairs_min_span_filters_spans_not_pairs(spark):
    """min_span_tokens gates individual spans before the pair rollup:
    a pair with one long and one short span keeps only the long one in
    n_spans/total when the threshold sits between them."""
    from icerunner_spark.operators.dedup import shared_span_pairs

    def wtoks(tag, k):
        return " ".join(tag + chr(97 + i // 26) + chr(97 + i % 26) for i in range(k))

    long_run = wtoks("a", 20)
    short_run = wtoks("b", 9)
    df = spark.createDataFrame(
        [
            (1, long_run + " " + wtoks("m", 12) + " " + short_run),
            (2, long_run + " " + wtoks("n", 12) + " " + short_run),
        ],
        ["doc_id", "text"],
    )
    out = shared_span_pairs(
        df, "doc_id", "text", n=8, min_span_tokens=15
    ).collect()
    assert len(out) == 1
    r = out[0].asDict()
    assert r["n_spans"] == 1
    assert r["longest_span_tokens"] == 20
    assert r["total_span_tokens"] == 20


def test_shared_span_pairs_releases_caches(spark):
    """The gram and rare frames are cached for the four lineages inside
    ONE call but must not outlive it (r6 verdict item 7: repeated calls
    leaked executor storage). The result arrives pre-materialized via
    localCheckpoint, so at most that one bounded RDD per call remains
    registered — never the corpus-sized gram/rare caches (2 per call)."""
    from icerunner_spark.operators.dedup import shared_span_pairs

    def persistent():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    df = spark.createDataFrame(
        [(i, "tok" + " tok".join(str(j) for j in range(i, i + 12)))
         for i in range(6)],
        ["doc_id", "text"],
    )
    base = persistent()
    for call in range(1, 4):
        shared_span_pairs(df, "doc_id", "text", n=8).collect()
        # <= 1 new persistent RDD per call (the localCheckpoint of the
        # bounded pair output); the 2 per-call gram/rare caches are gone
        assert persistent() - base <= call, (
            f"call {call}: {persistent() - base} persistent RDDs above "
            f"baseline — gram/rare caches leaked"
        )


# --------------------------------------------------------------------------- #
# semantic_best_match (operators/similarity.py, r7): the decontam scorer
# --------------------------------------------------------------------------- #


def test_semantic_best_match_argmax_and_tiebreak(spark):
    """Argmax runs on cosine ROUNDED to 6 digits with lowest-eval-id
    tiebreak — the oracle-portable contract. Eval vectors here are
    copies of corpus vectors, so the rounded winners tie exactly and
    the lower eval id must win."""
    from icerunner_spark.operators.similarity import semantic_best_match

    v1, v2 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    df = spark.createDataFrame(
        [(10, 0, v1), (11, 1, v2)], "vec_id long, label int, v array<double>"
    )
    # eval 5 and 7 are both exactly v1; eval 6 is v2
    out = {
        r["vec_id"]: r
        for r in semantic_best_match(
            df, [(7, v1), (5, v1), (6, v2)], payload_cols=("label",)
        ).collect()
    }
    assert out[10]["eval_id"] == 5  # tie on cos=1.0 -> lowest eval id
    assert out[10]["cos_sim"] == pytest.approx(1.0)
    assert out[11]["eval_id"] == 6
    assert out[10]["label"] == 0 and out[11]["label"] == 1


def test_semantic_best_match_drops_null_and_ragged(spark):
    from icerunner_spark.operators.similarity import semantic_best_match

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0, 0.0]),
            (2, 1, None),
            (3, 2, [1.0, 0.0]),  # wrong dimension
        ],
        "vec_id long, label int, v array<double>",
    )
    out = semantic_best_match(df, [(0, [1.0, 0.0, 0.0])]).collect()
    assert [r["vec_id"] for r in out] == [1]


def test_semantic_best_match_one_row_per_doc(spark):
    """Output cardinality is exactly the (valid) corpus cardinality —
    the no-pair-frame guarantee, and the reason this formulation scales:
    nothing proportional to corpus x eval ever exists."""
    import numpy as np

    from icerunner_spark.operators.similarity import semantic_best_match

    rng = np.random.RandomState(7)
    rows = [(i, int(i % 3), rng.randn(8).tolist()) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, label int, v array<double>")
    evals = [(j, rng.randn(8).tolist()) for j in range(17)]
    out = semantic_best_match(df, evals).collect()
    assert len(out) == 200
    assert len({r["vec_id"] for r in out}) == 200
    # cross-check a sample against plain numpy
    emat = np.array([e[1] for e in evals])
    emat = emat / np.linalg.norm(emat, axis=1, keepdims=True)
    by_id = {r["vec_id"]: r for r in out}
    for i in (0, 57, 199):
        v = np.array(rows[i][2])
        sims = (v / np.linalg.norm(v)) @ emat.T
        k = int(np.argmax(np.round(sims, 6)))
        assert by_id[i]["eval_id"] == k
        assert by_id[i]["cos_sim"] == pytest.approx(float(sims[k]), abs=1e-12)


class TestFrequentItems:
    def test_equals_one_pass_exact(self, spark):
        """Two-pass frequent_items must equal the one-pass exact
        groupBy at multiple thresholds — the sketch bounds the shuffle,
        never the answer."""
        from icerunner_spark.functions.text import tokens as tok_fn
        from icerunner_spark.operators.frequent import frequent_items

        d = load_table(spark, "documents", SF).repartition(8, "doc_id")
        tok = d.select(F.explode(tok_fn("text")).alias("item"))
        n = tok.count()
        # fixture vocabulary is ~31 near-uniform tokens (~3.2% each), so
        # 0.02 keeps most and 0.03 splits the set; 0.05 would be empty
        for thr in (0.02, 0.03):
            got = {
                (r["item"], r["cnt"])
                for r in frequent_items(tok, "item", threshold=thr).collect()
            }
            want = {
                (r["item"], r["cnt"])
                for r in tok.groupBy("item")
                .agg(F.count(F.lit(1)).alias("cnt"))
                .filter(F.col("cnt") * 1.0 >= thr * n)
                .collect()
            }
            assert got == want and got, f"thr={thr}"

    def test_nan_keys_group_like_spark(self, spark):
        """Spark groups NaN as equal (NaN = NaN is true in Spark SQL),
        so a frequent NaN must surface as ONE heavy hitter — the naive
        Counter accumulation fragmented every NaN row into its own
        bucket and dropped it below any cut."""
        import math

        from icerunner_spark.operators.frequent import frequent_items

        rows = [(float("nan"),)] * 40 + [(float(i), ) for i in range(60)]
        df = spark.createDataFrame(rows, "item double").repartition(4)
        out = frequent_items(df, "item", threshold=0.3).collect()
        assert len(out) == 1
        assert math.isnan(out[0]["item"]) and out[0]["cnt"] == 40
        assert out[0]["frac"] == 0.4

    def test_partitioning_independent_and_candidates_bounded(self, spark):
        """The result must not depend on the partition layout, and the
        pass-1 candidate set must respect its partitions/threshold
        bound (the bounded-shuffle claim)."""
        from icerunner_spark.functions.text import tokens as tok_fn
        from icerunner_spark.operators.frequent import frequent_items

        d = load_table(spark, "documents", SF)
        thr = 0.03
        results = []
        for parts in (3, 17):
            tok = d.repartition(parts, "doc_id").select(
                F.explode(tok_fn("text")).alias("item")
            )
            results.append(
                sorted(
                    tuple(r)
                    for r in frequent_items(
                        tok, "item", threshold=thr
                    ).collect()
                )
            )
        assert results[0] == results[1] and results[0]

        # candidate bound: reproduce pass 1 and count
        tok = d.repartition(5, "doc_id").select(
            F.explode(tok_fn("text")).alias("item")
        )
        import pandas as pd

        def local_frequent(batches):
            from collections import Counter

            counts, n = Counter(), 0
            for pdf in batches:
                counts.update(pdf["item"])
                n += len(pdf)
            if n:
                keep = [k for k, c in counts.items() if c >= thr * n]
                if keep:
                    yield pd.DataFrame({"item": keep})

        cand = tok.mapInPandas(local_frequent, schema="item string").distinct()
        n_cand = cand.count()
        assert n_cand <= 5 / thr, f"{n_cand} candidates exceed partitions/threshold"
        final = {
            r["item"]
            for r in frequent_items(tok, "item", threshold=thr).collect()
        }
        cand_set = {r["item"] for r in cand.collect()}
        assert final <= cand_set, "pass-1 candidates must be a superset"

    def test_rejects_bad_threshold(self, spark):
        from icerunner_spark.operators.frequent import frequent_items

        d = load_table(spark, "documents", SF).select(
            F.col("lang").alias("item")
        )
        with pytest.raises(ValueError):
            frequent_items(d, "item", threshold=0.0)


# --------------------------------------------------------------------------- #
# URL canonicalization (functions/url.py)
# --------------------------------------------------------------------------- #


def test_canonicalize_url_rules(spark):
    from icerunner_spark.functions.url import canonicalize_url

    cases = [
        # (input, expected canonical)
        ("HTTP://Example.COM:80/a/b?utm_source=x&z=1&a=2#f",
         "http://example.com/a/b?a=2&z=1"),
        ("https://WWW.Site.ORG:443/x/", "https://site.org/x"),
        ("https://site.org:8443/x", "https://site.org:8443/x"),
        ("http://host.net", "http://host.net/"),
        ("http://host.net/?fbclid=abc", "http://host.net/"),
        ("http://host.net/p?gclid=1&ref=t&id=9", "http://host.net/p?id=9"),
        ("http://host.net/deep/path/", "http://host.net/deep/path"),
        ("https://a.b/", "https://a.b/"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, (u, _) in enumerate(cases)], ["i", "url"]
    )
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", canonicalize_url("url").alias("c")
        ).collect()
    }
    for i, (u, want) in enumerate(cases):
        assert got[i] == want, f"{u!r}: got {got[i]!r}, want {want!r}"


def test_canonicalize_url_is_idempotent(spark):
    from icerunner_spark.functions.url import canonicalize_url

    urls = [
        "HTTP://A.com:80/x?b=2&a=1#z",
        "https://www.b.org/y/",
        "http://c.net/p?utm_medium=m&q=1",
    ]
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    once = df.select(canonicalize_url("url").alias("c"))
    twice = once.select(canonicalize_url("c").alias("c"))
    assert [r["c"] for r in once.collect()] == [
        r["c"] for r in twice.collect()
    ]


def test_canonicalize_url_postconditions_random(spark):
    """200 seeded random URLs: one pass establishes every published
    rule's postcondition (no fragment, lowercase scheme+host, no www.
    label, no default port, no tracking params, sorted params, no
    trailing slash on non-root paths) and a second pass is a fixpoint."""
    import random

    from icerunner_spark.functions.url import canonicalize_url

    rng = random.Random(42)
    schemes = ["http", "HTTP", "https", "HTTPS"]
    hosts = ["Example.com", "www.Site.ORG", "a.b.c.NET", "host"]
    ports = ["", ":80", ":443", ":8080"]
    paths = ["", "/", "/x", "/x/y/", "/x//y"]
    params = ["a=1", "b=2", "utm_source=s", "Z=9", "gclid=g", "ref=r"]
    urls = []
    for _ in range(200):
        q = "&".join(rng.sample(params, rng.randint(0, 4)))
        urls.append(
            rng.choice(schemes) + "://" + rng.choice(hosts)
            + rng.choice(ports) + rng.choice(paths)
            + (("?" + q) if q else "")
            + (("#frag" + str(rng.randint(0, 9))) if rng.random() < 0.5 else "")
        )
    df = spark.createDataFrame([(u,) for u in urls], ["url"])
    out = [r["c"] for r in df.select(canonicalize_url("url").alias("c")).collect()]
    twice = [
        r["c"]
        for r in spark.createDataFrame([(c,) for c in out], ["c"])
        .select(canonicalize_url("c").alias("c"))
        .collect()
    ]
    assert out == twice  # idempotent on everything generated
    for c in out:
        scheme, rest = c.split("://", 1)
        assert scheme == scheme.lower()
        assert "#" not in c
        hostport = rest.split("/", 1)[0].split("?", 1)[0]
        host = hostport.split(":", 1)[0]
        assert host == host.lower() and not host.startswith("www.")
        # default ports are stripped only for their OWN scheme
        # (http://h:443 keeps the port — it is not a default there)
        if scheme == "http":
            assert not hostport.endswith(":80")
        if scheme == "https":
            assert not hostport.endswith(":443")
        pathq = rest[len(hostport):]
        path = pathq.split("?", 1)[0]
        assert path.startswith("/")
        assert path == "/" or not path.endswith("/")
        if "?" in pathq:
            ps = pathq.split("?", 1)[1].split("&")
            assert ps == sorted(ps) and all(ps)
            assert not any(
                p.startswith(("utm_", "fbclid=", "gclid=", "msclkid=", "ref="))
                for p in ps
            )


@pytest.fixture(scope="module")
def planted_embeddings(spark):
    """300 random unit-ish vectors plus planted near-copies: 12 pairs and
    a 3-member cluster of near-identical vectors (cosine > 0.9999), and
    one pair at cosine ~0.85 that only the exact path must find. The
    sf0.01 fixture has no pair above 0.8, so the registry's near-dup
    entries never show that pairs are found; this corpus does."""
    import numpy as np

    rng = np.random.default_rng(20)
    dim = 32
    vecs = {i: rng.normal(size=dim) for i in range(300)}
    for j, src in enumerate(range(0, 36, 3)):
        vecs[1000 + j] = vecs[src] + rng.normal(scale=1e-4, size=dim)
    vecs[2000] = vecs[100] + rng.normal(scale=1e-4, size=dim)
    vecs[2001] = vecs[2000] + rng.normal(scale=1e-4, size=dim)
    # a unit vector at a fixed 0.85 cosine to vector 200
    u = vecs[200] / np.linalg.norm(vecs[200])
    w = rng.normal(size=dim)
    w -= (w @ u) * u
    vecs[3000] = 0.85 * u + np.sqrt(1 - 0.85**2) * w / np.linalg.norm(w)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    ).cache()
    return df, vecs


def _brute_force_pairs(vecs: dict, threshold: float) -> set:
    import numpy as np

    ids = sorted(vecs)
    m = np.array([vecs[i] / np.linalg.norm(vecs[i]) for i in ids])
    sims = m @ m.T
    return {
        (ids[a], ids[b])
        for a, b in zip(*np.nonzero(sims >= threshold))
        if ids[a] < ids[b]
    }


def test_cosine_neardup_pairs_find_planted_pairs(spark, planted_embeddings):
    from icerunner_spark.operators.similarity import cosine_neardup_pairs

    df, vecs = planted_embeddings
    want = _brute_force_pairs(vecs, 0.8)
    planted = {(s, 1000 + j) for j, s in enumerate(range(0, 36, 3))}
    planted |= {(100, 2000), (100, 2001), (2000, 2001)}
    assert planted <= want and (200, 3000) in want
    exact = cosine_neardup_pairs(df, threshold=0.8, exact=True).collect()
    assert {(r["id1"], r["id2"]) for r in exact} == want
    assert all(r["cos_sim"] >= 0.8 for r in exact)
    lsh = cosine_neardup_pairs(df, threshold=0.8, exact=False).collect()
    assert planted <= {(r["id1"], r["id2"]) for r in lsh}


def test_resolve_near_duplicates_matches_union_find(spark, planted_embeddings):
    from icerunner_spark.operators.corpus import resolve_near_duplicates
    from icerunner_spark.operators.similarity import cosine_neardup_pairs

    df, vecs = planted_embeddings
    pairs = cosine_neardup_pairs(df, threshold=0.8, exact=True).select("id1", "id2")
    parent = {i: i for i in vecs}

    def find(i):
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for a, b in _brute_force_pairs(vecs, 0.8):
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {i: (find(i), find(i) == i) for i in vecs}
    got = {
        r["vec_id"]: (r["cluster_id"], r["is_canonical"])
        for r in resolve_near_duplicates(df.select("vec_id"), pairs, "vec_id").collect()
    }
    assert got == want
    assert got[2001] == (100, False) and got[100] == (100, True)
    assert sum(1 for c, canon in got.values() if not canon) >= 15
