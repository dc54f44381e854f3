"""Deduplication operators for training-data pipelines (SURVEY.md §2.C).

Five families, all partition-parallel, none driver-side:

- **exact**: hash-groupBy on a 64-bit fingerprint of normalized text.
- **exact n-gram Jaccard**: inverted-index join on character shingles —
  the exact-similarity baseline the approximate methods are measured
  against. One shuffle on the shingle, one on the pair.
- **MinHash + LSH**: k hash functions -> banded signatures -> bucket
  pairs -> estimate prefilter -> exact-Jaccard verify.
- **SimHash** (and every other 64-bit hamming signature: image dHash,
  audio and video fingerprints): near-dup = distance <= k, candidates
  via chunk banding (pigeonhole over c chunks: distance <= c-1 => one
  chunk equal; 8x8-bit chunks for distance <= 7, 4x16-bit for
  distance <= 3), distance exact from the signatures.
- **embedding cosine**: see operators/similarity.py.

Both banded families share ONE candidate operator, :func:`banded_pairs`:
each family only supplies its band keys (MinHash: a hash of each
signature slice; hamming: each chunk's value) and the doc payload its
verify needs. The operator groups (band, key) buckets, drops degenerate
ones (the ``max_bucket`` skew cap) and expands the rest into distinct
pairs. It serves the batch operators here and the CDC-incremental ones
in ``operators.incremental``: a batch run marks every row as delta, an
incremental run marks the persisted prior state as not delta, and the
same code pairs each delta doc with its smaller-id bucket-mates.

Everything is built from xxhash64 / higher-order array functions or
vectorized Arrow kernels — no row-at-a-time Python UDFs.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from icerunner_spark.functions.text import char_ngrams, fingerprint64, tokens


# --------------------------------------------------------------------------- #
# exact
# --------------------------------------------------------------------------- #


def dedup_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep one row (min id) per exact-normalized-text group. Single hash
    aggregate on the 64-bit fingerprint (map-side combinable); the full
    text never shuffles."""
    fp = fingerprint64(text_col).alias("__fp")
    keep = (
        df.select(fp, F.col(id_col))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, id_col, "left_semi")


# --------------------------------------------------------------------------- #
# exact n-gram Jaccard via inverted index
# --------------------------------------------------------------------------- #


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    threshold: float = 0.4,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """All pairs (id1 < id2) with Jaccard(ngram-set) >= threshold — exact.

    Inverted-index formulation: explode distinct shingles, self-join on the
    shingle to count intersections, then |A∪B| = |A|+|B|-|A∩B|. Shuffles on
    shingle then on (id1,id2); no cross product.

    ``max_doc_freq`` (r11): shingles appearing in more than this many
    documents are dropped from the FINGERPRINT — both from the index
    join and from the set sizes, so the result is the exact Jaccard of
    the CAPPED gram sets (a deterministic, oracle-expressible measure:
    the same df filter in SQL reproduces it bit-for-bit). This is the
    hot-shingle lever: the uncapped join's volume is sum df(gram)^2,
    quadratic on boilerplate shingles ("all rights reserved") whose
    posting lists grow with the corpus; with the cap, candidate volume
    is bounded by (max_doc_freq / 2) x total gram occurrences — LINEAR
    in the corpus for a fixed cap, by construction. Dropping
    corpus-ubiquitous shingles also sharpens the signal (shared
    boilerplate should not make two documents near-duplicates) — the
    same reasoning as stopword pruning in retrieval. None = uncapped
    (the r10 behavior). Docs whose every gram is hot end with an empty
    fingerprint and pair with nothing — the exact-dedup pass, not this
    operator, owns pure-template duplicates. The r11 df-skew probe
    (tools/skew_probe.py, SCALE.md §9e) measured the refutation of the
    alternative PPJoin prefix route at these parameters: at t=0.25 on
    short docs the 75% prefix still carries df~10^3 grams, so its
    candidate join matched the full index (2.6e9 rows at 50k docs) and
    its array-shipping verify filled 77 GB of spill — while this narrow
    count formulation stayed linear.

    Plan shape (r11 optimization round, guide §2.4): the gram-set frame
    is built ONCE (eager localCheckpoint — it feeds both self-join sides
    and the size aggregate; uncached, Catalyst re-ran the shingle
    explode 4x, measured 113 s of the 668 s executor total at sf0.1) and
    stays hash-partitioned by id, so the (id1, id2) intersection
    aggregate after the self-join needs NO exchange (partitioning by
    id1 already satisfies the grouping). The df cap is applied as a
    broadcast ANTI-join against the hot-gram list (an Aggregate-bounded
    subtree: at most one row per distinct gram above the cap) — the r11
    mid-build version used a gram-partitioned window, whose exchange
    destroyed the id-partitioning and forced the 142M-row join output
    through a full shuffle that AQE had pre-coalesced to 7 tasks
    (measured 212 s executor in one 7-task stage; the anti-join form
    keeps the join output pipelined into its aggregate).
    Shingles are 64-bit-hashed at the ngram_sets boundary (r11
    optimization round, guide §2.3 narrower types): every stage —
    the self-join's hash build/probe over ~sum df(gram)^2 emitted
    pairs, the df cap aggregate, the size counts — then hashes and
    compares 8-byte longs instead of n-char strings. Jaccard is a
    count over distinct set elements, so the values are bit-identical
    under any injective relabeling; the accepted cross-doc collision
    risk (P ~ |vocab|^2 / 2^64) is the same one the prefix-filtered
    exact operator and the exact-dedup fingerprint already carry.
    Returns (id1, id2, jaccard)."""
    sets = ngram_sets(
        df, id_col, text_col, shingle=n, hashed=True, engine="expr"
    ).localCheckpoint(eager=True)
    # re-declare the hash partitioning the checkpoint dropped (LogicalRDD
    # advertises no outputPartitioning): one cheap exchange of the compact
    # (id, gram-array) frame, ReuseExchange-shared by every consumer, so
    # the (id1, id2) aggregate below runs WITHOUT exchanging the join
    # output (hashpartitioning(id1) satisfies the grouping) — measured
    # 128 MB of pair-aggregate shuffle otherwise at sf0.1
    sets = sets.repartition(df.sparkSession.sparkContext.defaultParallelism, "id")
    grams = sets.select("id", F.explode("g").alias("gram"))
    if max_doc_freq is not None:
        hot = (
            grams.groupBy("gram")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > max_doc_freq)
            .select("gram")
        )
        grams = grams.join(F.broadcast(hot), "gram", "left_anti")
    sizes = grams.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a, b = grams.alias("a"), grams.alias("b")
    inter = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sz1 = sizes.select(F.col("id").alias("id1"), F.col("sz").alias("sz1"))
    sz2 = sizes.select(F.col("id").alias("id2"), F.col("sz").alias("sz2"))
    return (
        inter.join(sz1, "id1")
        .join(sz2, "id2")
        .select(
            "id1",
            "id2",
            (F.col("i") / (F.col("sz1") + F.col("sz2") - F.col("i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------- #
# exact n-gram Jaccard via positional prefix filtering (AllPairs/PPJoin)
# --------------------------------------------------------------------------- #


def prefix_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 5,
    threshold: float = 0.4,
) -> DataFrame:
    """All pairs (id1 < id2) with Jaccard(ngram-set) >= threshold — exact,
    with prefix-filtered candidate generation (the AllPairs/PPJoin
    family's core idea, from the published prefix-filtering literature).

    Instead of joining on EVERY shingle (ngram_jaccard_pairs), each
    document joins only on its ``|d| - ceil(t*|d|) + 1`` rarest shingles
    under a global (document-frequency asc, gram asc) order. The prefix
    theorem makes this lossless: if Jaccard(A,B) >= t then
    |A n B| >= t*max(|A|,|B|), so the two prefixes — each long enough to
    overlap any t-fraction subset under the shared order — must share a
    token. Exactness is pinned against the inverted-index baseline in
    tests/test_operators.py.

    Scale shape: candidate volume is driven by RARE-token posting lists
    (the global order puts stopword-like grams last, so they never enter
    a prefix), which is what makes the exact join feasible where the
    full inverted index hits hot-shingle quadratic blowup. Stages:
    shuffle on gram (doc freq), shuffle on id (sorted gram arrays),
    shuffle on prefix gram (candidates), hash join back to verify with
    a JVM-side array_intersect — no Python, no cross product. The
    verify join ships each doc's gram array to its candidate pairs;
    with positional information this could prune further (PPJoin+'s
    suffix filter), noted as headroom, not needed at current scales."""
    from icerunner_spark.functions.text import normalize_ws
    from icerunner_spark.operators.spread import spread_if_narrow

    # Shingles are 64-bit-hashed IMMEDIATELY (same determinism argument
    # as fingerprint64-backed exact dedup): every later stage — df
    # counting, per-doc sort, prefix join, array_intersect verify —
    # moves 8-byte longs instead of n-char strings, which cuts the
    # dominant shuffle (the verify stage ships each doc's full shingle
    # set to its candidate pairs) by ~n/8 and makes the sorts integer
    # sorts. A cross-doc xxhash64 collision (P ~ |vocab|^2 / 2^64)
    # would inflate one intersection count — the same accepted risk the
    # exact-dedup fingerprint carries.
    grams = (
        spread_if_narrow(df, id_col)
        .select(F.col(id_col).alias("id"), normalize_ws(text_col).alias("__norm"))
        .select(
            "id",
            F.explode(
                F.array_distinct(char_ngrams(F.col("__norm"), n, normalized=True))
            ).alias("gram"),
        )
        .select("id", F.xxhash64("gram").alias("gram"))
    )
    from pyspark.sql import Window as _W

    # document frequency via a window over the gram — ONE shuffle
    # produces (id, gram, df) directly, where a groupBy+self-join would
    # shuffle twice and re-run the shingle explode for each side
    with_df = grams.withColumn(
        "df", F.count(F.lit(1)).over(_W.partitionBy("gram"))
    )
    # sort_array over struct<df,gram> realizes the global rarest-first
    # order per document without a single-partition global rank.
    # Cached: three consumers below (prefix explode + both verify
    # sides) — uncached, Catalyst recomputes the shingle explode, the
    # df window, and the per-doc sort once per consumer (measured 3x
    # the runtime at sf0.1).
    sized = (
        with_df
        .groupBy("id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "gram"))).alias("toks"))
        .select(
            "id",
            F.col("toks.gram").alias("grams"),
            F.size("toks").alias("sz"),
        )
        .withColumn(
            "pfx_len",
            (
                F.col("sz")
                - F.ceil(F.lit(threshold) * F.col("sz")).cast("int")
                + F.lit(1)
            ),
        )
        .cache()
    )
    pfx = sized.select(
        "id", F.explode(F.slice("grams", F.lit(1), F.col("pfx_len"))).alias("gram")
    )
    a, b = pfx.alias("a"), pfx.alias("b")
    cand = (
        a.join(b, (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .distinct()
    )
    g1 = sized.select(
        F.col("id").alias("id1"), F.col("grams").alias("g1"), F.col("sz").alias("sz1")
    )
    g2 = sized.select(
        F.col("id").alias("id2"), F.col("grams").alias("g2"), F.col("sz").alias("sz2")
    )
    return (
        cand.join(g1, "id1")
        .join(g2, "id2")
        # length filter: a t-similar partner's size is within [t*sz, sz/t]
        .filter(
            (F.col("sz2") >= F.lit(threshold) * F.col("sz1"))
            & (F.col("sz1") >= F.lit(threshold) * F.col("sz2"))
        )
        .withColumn("i", F.size(F.array_intersect("g1", "g2")))
        .select(
            "id1",
            "id2",
            (F.col("i") / (F.col("sz1") + F.col("sz2") - F.col("i"))).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


# --------------------------------------------------------------------------- #
# banded buckets -> candidate pairs (shared by MinHash LSH and hamming)
# --------------------------------------------------------------------------- #


def banded_pairs(
    sigs: DataFrame,
    keys: list[Column],
    fields: tuple[str, ...],
    *,
    max_bucket: int,
    prior: DataFrame | None = None,
) -> DataFrame:
    """Distinct candidate pairs from banded signature buckets — the one
    bucket-group-and-pair-expansion of every LSH family here.

    Rows: one (band, key, doc, is_delta) per band key of every signature
    in ``sigs`` (is_delta true) and in ``prior`` (false, when given).
    The doc is a flat struct of ``fields``, ``id`` first — ``("id",)``
    when the verify only needs ids, ``("id", "sig")`` when it reads the
    signatures — and ids are unique across both frames.

    Buckets: group by (band, key); keep those with 2..``max_bucket``
    members and at least one delta member. The cap is the skew guard: a
    bucket that big means the band carries no signal for those docs
    (boilerplate, empty strings), and expanding it would cost
    |bucket|^2/2 pairs. Delta-free buckets are pruned before any
    expansion, so an incremental run's pair work follows the delta.

    Expansion: members sorted by id; each delta member pairs with the
    members sorted before it, via a ``slice`` of that prefix — only
    id1 < id2 pairs are ever materialized (array lambdas are
    interpreted, so the constant factor matters in the capped worst
    case). A batch run marks every row delta, so this is the full upper
    triangle; an incremental run pairs each delta doc with every
    smaller bucket-mate, prior or delta.

    Plan shape: flat member structs, the sort inside the aggregate,
    ``inline`` for the explode, no extra filter. A first form (nested doc
    struct, separate sort projection, id filter) cost 28% more CPU on
    this stage than the MinHash-only expansion it replaced; this one
    about 7% (sf0.1 documents, local[4], JVM plus driver CPU, medians
    of 9-11 runs).

    Returns distinct rows of ``<field>1`` and ``<field>2`` for each
    field (side 2 always a delta doc) plus ``prior``, true iff side 1
    came from ``prior``."""

    def rows(frame: DataFrame, is_prior: bool) -> DataFrame:
        return frame.select(
            F.posexplode(F.array(*keys)).alias("band", "key"),
            F.struct(*fields, F.lit(is_prior).alias("prior")).alias("m"),
        )

    members = rows(sigs, False)
    if prior is not None:
        members = rows(prior, True).unionByName(members)
    m = F.col("m")
    return (
        members.groupBy("band", "key")
        .agg(
            F.sort_array(F.collect_list("m")).alias("m"),
            F.bool_and("m.prior").alias("no_delta"),
        )
        .filter(
            (F.size(m) >= 2) & (F.size(m) <= max_bucket) & ~F.col("no_delta")
        )
        .select(
            F.inline(
                F.flatten(
                    F.transform(
                        m,
                        lambda x, i: F.transform(
                            F.slice(m, 1, F.when(x["prior"], 0).otherwise(i)),
                            lambda y: F.struct(
                                *[y[f].alias(f"{f}1") for f in fields],
                                *[x[f].alias(f"{f}2") for f in fields],
                                y["prior"].alias("prior"),
                            ),
                        ),
                    )
                )
            )
        )
        .distinct()
    )


# --------------------------------------------------------------------------- #
# MinHash + LSH
# --------------------------------------------------------------------------- #


def ngram_sets(
    df: DataFrame, id_col: str, text_col: str, *, shingle: int = 5,
    hashed: bool = False, engine: str = "arrow",
) -> DataFrame:
    """(id, g: array<string>) — each document's DISTINCT n-gram set,
    spread across the session's parallelism. This is the one
    text-derived frame the whole near-dup pipeline shares: cache it and
    both the MinHash signature build and the exact-Jaccard verify read
    the arrays instead of re-deriving shingles from raw text (the
    re-derivation was ~a full corpus pass — the single biggest lever in
    corpus_clean_pipeline).

    ``hashed=True`` emits ``array<bigint>`` — each shingle replaced by its
    xxhash64 — for pipelines that treat grams as OPAQUE set elements
    (MinHash signatures, array_intersect verify): every downstream
    stage then hashes/ships/compares 8-byte longs instead of n-char
    strings. The signature aggregate evaluates k seeded hashes per gram
    occurrence, so hashing the long instead of the string cuts its
    per-row cost roughly in half. Same accepted collision risk as
    :func:`prefix_jaccard_pairs` (P ~ |vocab|^2 / 2^64); the Jaccard
    verify stays exact modulo that. MUST be uniform across a dedup
    pipeline's full AND incremental paths (signatures must be equal for
    the prefix-decomposability equivalence), which is why the flag
    lives here and every minhash caller passes it.

    Repartitioned before the shingle build: document tables are compact
    on disk (a few MB of parquet can hold the whole corpus slice), so
    the scan may yield fewer partitions than cores while the per-row
    work is scan-disproportionate — without the spread, one task
    shingles everything (measured 20x on local[32])."""
    from icerunner_spark.functions.text import normalize_ws

    from icerunner_spark.operators.spread import spread_if_narrow

    # ids are cast to bigint below; a non-integral id would cast to NULL
    id_type = df.schema[id_col].dataType
    if id_type.typeName() not in ("byte", "short", "integer", "long"):
        raise ValueError(
            f"ngram_sets: id column {id_col!r} must be integral, "
            f"got {id_type.simpleString()}"
        )

    # two projections on purpose: the normalization materializes before
    # the gram lambda (see functions.text.normalize_ws — an inlined norm
    # re-runs the regex once PER GRAM, measured 2.7x on this stage).
    # Spread gated on detected under-parallelism: an unconditional
    # repartition both exchanged the full text AND capped the stage at
    # core-count partitions at scale; at the fixtures (1-partition
    # scans) it still fires.
    normed = spread_if_narrow(df, id_col).select(
        F.col(id_col).cast("long").alias("id"),
        normalize_ws(text_col).alias("__norm"),
    )
    if hashed and engine == "arrow":
        # shingle+hash runs as a vectorized numpy mapInArrow kernel
        # with EXACT F.xxhash64 parity instead of interpreted Catalyst
        # array lambdas — a stage decomposition measured the expression
        # form as the single biggest executor cost of the minhash family
        # (89 s of dedup_minhash_lsh's 206 s total at sf0.1; ~12 us per
        # gram of per-element interpretation). Values are bit-identical
        # (functions/xxh.py; pinned vs F.xxhash64 in
        # tests/test_operators.py); only the set's element ORDER differs
        # (sorted vs first-occurrence), and every consumer treats g as a
        # set (explode aggregates, array_intersect sizes). Normalization
        # stays in the JVM so its regex/lower semantics are unchanged;
        # the kernel ships only (id, __norm) across the Arrow boundary.
        # ``engine="expr"`` keeps the Catalyst form for the one caller
        # where the A/B went the other way: ngram_jaccard_pairs
        # checkpoints its sets and its wall-clock is pair-join-bound, so
        # the kernel's Arrow round trip of the gram arrays cost more
        # than the single interpreted build it saved (A/B: expr med
        # 3.09 s vs arrow 3.40 s on the pair pipeline, while the
        # signature-bound minhash pipeline measured 4.15 -> 2.84 s).
        from icerunner_spark.functions.xxh import hashed_gram_sets_map

        return normed.mapInArrow(
            hashed_gram_sets_map(shingle), "id bigint, g array<bigint>"
        )
    out = normed.select(
        "id",
        F.array_distinct(
            char_ngrams(F.col("__norm"), shingle, normalized=True)
        ).alias("g"),
    )
    if hashed:
        # array_distinct again: a within-doc hash collision would shrink
        # the set (negligible odds, cheap insurance on 8-byte longs)
        out = out.select(
            "id",
            F.array_distinct(
                F.transform("g", lambda x: F.xxhash64(x))
            ).alias("g"),
        )
    return out


def minhash_signatures_from_grams(grams: DataFrame, *, n_hashes: int = 64) -> DataFrame:
    """(id, sig: array<bigint>) from an :func:`ngram_sets` frame via the
    aggregate formulation: explode the gram arrays, project k seeded
    xxhash64 columns (whole-stage codegen), take k ``min`` aggregates
    (map-side partial combine).

    This is the at-scale shape: higher-order array lambdas are
    *interpreted* row-at-a-time in Spark, while explode+hash-agg runs
    fully codegen'd and mergeable — measured ~10x over a single-fold
    column version at sf0.1 (and the partial aggregation means only k
    longs per doc cross the shuffle)."""
    # k independent seeded hashes per shingle. (A Kirsch-Mitzenmacher
    # double-hashing family — h1 + i*h2 — was tried and rejected: its
    # members are not independent permutations, so the min positions
    # correlate across i, the Jaccard estimator biases high, and LSH
    # candidate counts blew up ~2x on the fixtures.)
    #
    # Over hashed (array<bigint>) gram frames the k-seeded-min
    # computation runs as a vectorized numpy mapInArrow kernel with
    # EXACT parity to min(xxhash64(gram, lit(s))) — Spark chains
    # hashInt(s, hashLong(gram, 42)), replicated bit-for-bit in
    # functions/xxh.py (pinned in tests/test_operators.py). The codegen'd
    # explode+agg form measured 39 s executor of dedup_minhash_lsh's
    # 206 s at sf0.1 (64 full hashes per gram occurrence; the kernel
    # computes hashLong once per gram and 64 cheap 4-byte links). The
    # per-doc grouping collapses inside the kernel (numpy reduceat), so
    # no explode and no aggregation exchange exist at all. String-gram
    # frames (no caller today) keep the expression form, whose string
    # hashing the kernel deliberately does not re-implement per seed.
    if dict(grams.dtypes).get("g") == "array<bigint>":
        from icerunner_spark.functions.xxh import minhash_sigs_map

        return grams.select(
            F.col("id").cast("long").alias("id"), "g"
        ).mapInArrow(minhash_sigs_map(n_hashes), "id bigint, sig array<bigint>")
    exploded = grams.select("id", F.explode("g").alias("gram"))
    mins = exploded.groupBy("id").agg(
        *[
            F.min(F.xxhash64("gram", F.lit(s))).alias(f"m{s}")
            for s in range(n_hashes)
        ]
    )
    return mins.select(
        "id", F.array(*[F.col(f"m{s}") for s in range(n_hashes)]).alias("sig")
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 64,
    shingle: int = 5,
) -> DataFrame:
    """(id, sig) straight from text — :func:`ngram_sets` piped into
    :func:`minhash_signatures_from_grams`. Standalone entry point for
    callers that only need signatures; pipelines that also verify
    exactly should build (and cache) the gram frame once and use the
    ``_from_grams`` form for both stages."""
    return minhash_signatures_from_grams(
        ngram_sets(df, id_col, text_col, shingle=shingle, hashed=True),
        n_hashes=n_hashes,
    )


def minhash_band_keys(n_hashes: int, bands: int) -> list[Column]:
    """MinHash band keys over a ``sig`` column: band b's key is the
    xxhash64 of signature slice b (n_hashes/bands rows per band), so two
    docs share a bucket iff they agree on every row of one band."""
    if n_hashes % bands:
        raise ValueError("bands must divide n_hashes")
    rows = n_hashes // bands
    return [F.xxhash64(F.slice("sig", b * rows + 1, rows)) for b in range(bands)]


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 5,
    max_bucket: int = 200,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded MinHash LSH: a pair collides
    if any band's sub-signature matches. Signatures -> band keys ->
    :func:`banded_pairs` (degenerate buckets — e.g. empty strings —
    dropped by ``max_bucket`` rather than joined quadratically).
    Returns (id1, id2)."""
    keys = minhash_band_keys(n_hashes, bands)
    with_sig = sigs if sigs is not None else minhash_signatures(
        df, id_col, text_col, n_hashes=n_hashes, shingle=shingle
    )
    return banded_pairs(with_sig, keys, ("id",), max_bucket=max_bucket).select(
        "id1", "id2"
    )


def minhash_estimate_prefilter(
    cands: DataFrame, sigs1: DataFrame, sigs2: DataFrame, *,
    n_hashes: int, threshold: float,
) -> DataFrame:
    """Candidates (id1, id2, ...) whose MinHash Jaccard estimate clears
    ``threshold`` minus a 2.5σ margin; id1/id2 signatures come from
    ``sigs1``/``sigs2``. The signature-position match rate is an
    unbiased Jaccard estimator (σ <= sqrt(0.25/k)), so a true-J=threshold
    pair fails this cut with p ~ 0.6% while the expensive verify only
    sees plausible pairs: LSH banding over-generates heavily on
    template-heavy corpora (measured ~220k candidates -> ~10x fewer
    after this filter at sf0.1). The cut is deterministic in the
    signatures, so full and incremental runs decide every shared pair
    identically."""
    s1 = sigs1.select(F.col("id").alias("id1"), F.col("sig").alias("s1"))
    s2 = sigs2.select(F.col("id").alias("id2"), F.col("sig").alias("s2"))
    est = F.size(
        F.filter(F.zip_with("s1", "s2", lambda a, b: a == b), lambda x: x)
    ) / F.lit(n_hashes)
    margin = 2.5 * 0.5 / (n_hashes ** 0.5)
    return (
        cands.join(s1, "id1")
        .join(s2, "id2")
        .filter(est >= F.lit(threshold - margin))
        .select(*cands.columns)
    )


def jaccard_verify(
    cands: DataFrame, grams1: DataFrame, grams2: DataFrame, *, threshold: float
) -> DataFrame:
    """Candidates (id1, id2, ...) plus ``jaccard``, the exact Jaccard of
    their n-gram sets (id1's from ``grams1``, id2's from ``grams2``),
    kept when it reaches ``threshold``. Shuffle-hash joins on the id
    (hash lookup, no sort of the big gram arrays; both sides partition
    by id so this scales out — broadcast would cap at driver memory).
    |A∪B| comes from |A|+|B|-|A∩B| (gram arrays are distinct by
    construction), so only ONE O(n) array op per pair."""
    g1 = grams1.select(
        F.col("id").alias("id1"), F.col("g").alias("g1"), F.size("g").alias("n1")
    )
    g2 = grams2.select(
        F.col("id").alias("id2"), F.col("g").alias("g2"), F.size("g").alias("n2")
    )
    inter = F.size(F.array_intersect("g1", "g2"))
    jac = inter / (F.col("n1") + F.col("n2") - inter)
    return (
        cands.join(g1.hint("shuffle_hash"), "id1")
        .join(g2.hint("shuffle_hash"), "id2")
        .select(*cands.columns, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 5,
    threshold: float = 0.4,
    _return_internal: bool = False,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard on their n-gram sets —
    the standard generate-then-verify near-dup pipeline. Only candidate
    pairs pay the exact comparison. Returns (id1, id2, jaccard);
    ``_return_internal=True`` additionally returns the cached gram-set
    and signature frames, for callers (greedy/incremental dedup) that
    would otherwise re-shingle the same corpus to rebuild them.

    Two shared frames, each computed once and cached: the n-gram sets
    (feeding BOTH the signature build and the exact verify — shingling
    raw text is a full corpus pass, paying it twice measured ~25% of
    the whole clean pipeline) and the signatures (k longs per doc,
    feeding candidate generation AND the estimate prefilter)."""
    grams = ngram_sets(df, id_col, text_col, shingle=shingle, hashed=True).cache()
    sigs = minhash_signatures_from_grams(grams, n_hashes=n_hashes).cache()
    cands = minhash_lsh_candidates(
        df, id_col, text_col, n_hashes=n_hashes, bands=bands, shingle=shingle,
        sigs=sigs,
    )
    plausible = minhash_estimate_prefilter(
        cands, sigs, sigs, n_hashes=n_hashes, threshold=threshold
    )
    out = jaccard_verify(plausible, grams, grams, threshold=threshold)
    if _return_internal:
        return out, grams, sigs
    return out


# --------------------------------------------------------------------------- #
# SimHash
# --------------------------------------------------------------------------- #


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sig: long) SimHash via explode + 64 bit-count aggregates —
    the whole computation stays in whole-stage codegen with map-side
    partial aggregation (the array-lambda form interprets 64 filters per
    row). Same repartition-before-explode rationale as
    :func:`minhash_signatures`."""
    from icerunner_spark.operators.spread import spread_if_narrow

    toks = spread_if_narrow(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    h = F.xxhash64("tok")
    counted = toks.groupBy("id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1))).alias(f"c{b}")
            for b in range(64)
        ],
    )
    bits = [
        F.when(
            F.col(f"c{b}") * 2 > F.col("n"),
            F.lit(1 << b if b < 63 else -(2**63)),
        ).otherwise(F.lit(0))
        for b in range(64)
    ]
    return counted.select(
        "id", functools.reduce(operator.add, bits).cast("long").alias("sig")
    )


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two 64-bit signatures (bit_count of XOR)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_neardup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_distance: int = 6,
    chunk_bits: int | None = None,
    max_bucket: int = 200,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_distance.

    Thin wrapper: text -> :func:`simhash_signatures` -> the generic
    banded join :func:`hamming_neardup_pairs` (shared with the
    perceptual-image-hash dedup in ``operators.multimodal``). Short
    fixture documents move ~4-6 bits per small edit, hence the default
    distance 6."""
    return hamming_neardup_pairs(
        simhash_signatures(df, id_col, text_col),
        max_distance=max_distance,
        chunk_bits=chunk_bits,
        max_bucket=max_bucket,
    )


def hamming_pairs(
    sigs: DataFrame,
    *,
    max_distance: int,
    chunk_bits: int | None,
    max_bucket: int,
    prior: DataFrame | None = None,
) -> DataFrame:
    """(id1, id2, distance, prior): :func:`banded_pairs` over the
    ``chunk_bits`` chunks of each 64-bit ``sig``, kept when hamming
    distance <= ``max_distance``. Pigeonhole: with c chunks, distance
    <= c-1 leaves at least one chunk identical, so same-chunk-value
    pairs are a complete candidate set — a ``max_distance`` beyond that
    is refused. ``chunk_bits`` defaults by radius: 16-bit chunks (4
    chunks, 65536 bucket values per chunk) when max_distance <= 3, else
    8-bit chunks (8 chunks, 256 values — needed for the looser
    distance <= 7 guarantee). The distance is exact from the signatures
    the pair carries (bit_count of XOR), so there is no verify pass."""
    if chunk_bits is None:
        chunk_bits = 16 if max_distance <= 3 else 8
    if 64 % chunk_bits:
        raise ValueError("chunk_bits must divide 64")
    n_chunks = 64 // chunk_bits
    if max_distance > n_chunks - 1:
        raise ValueError(
            f"{n_chunks}-chunk banding guarantees candidates only for "
            f"distance <= {n_chunks - 1}"
        )
    mask = F.lit((1 << chunk_bits) - 1)
    keys = [
        F.shiftrightunsigned("sig", chunk_bits * c).bitwiseAND(mask)
        for c in range(n_chunks)
    ]
    pairs = banded_pairs(
        sigs, keys, ("id", "sig"), max_bucket=max_bucket, prior=prior
    )
    return pairs.select(
        "id1",
        "id2",
        hamming64(F.col("sig1"), F.col("sig2")).alias("distance"),
        "prior",
    ).filter(F.col("distance") <= max_distance)


def hamming_neardup_pairs(
    sigs: DataFrame,
    *,
    max_distance: int = 6,
    chunk_bits: int | None = None,
    max_bucket: int = 200,
) -> DataFrame:
    """Near-dup pairs over any (``id``, ``sig``) 64-bit signature frame
    (simhash, image dHash, audio fingerprints): hamming(sig) <=
    max_distance, without an all-pairs join — candidates from chunk
    banding (:func:`hamming_pairs`), buckets skew-capped like
    MinHash's: with only 2^chunk_bits values per chunk an uncapped
    self-join degrades toward n^2/2^chunk_bits pairs on a
    template-heavy corpus, so buckets larger than ``max_bucket`` are
    dropped. Returns (id1, id2, distance)."""
    return hamming_pairs(
        sigs, max_distance=max_distance, chunk_bits=chunk_bits,
        max_bucket=max_bucket,
    ).select("id1", "id2", "distance")


# --------------------------------------------------------------------------- #
# Exact substring overlap: maximal shared token spans between doc pairs
# --------------------------------------------------------------------------- #


def shared_span_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    max_df: int = 16,
    min_span_tokens: int | None = None,
) -> DataFrame:
    """Maximal exact shared token spans between document pairs — the
    deduplicate-text-datasets semantics (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better") at token granularity,
    expressed as relational algebra instead of a suffix array.

    Construction: posexplode word n-grams, hash each gram to 8 bytes,
    self-join on the hash, then coalesce consecutive matches into maximal
    spans with a gaps-and-islands pass over each pair's match diagonal
    (``pos_a - pos_b``): a shared run of m tokens appears as m-n+1
    lockstep gram matches on one diagonal, so ``pos_a - row_number()``
    groups the maximal runs. When ``max_df`` drops a gram from the
    MIDDLE of a long shared run, the run arrives as two islands whose
    token extents ``[min, max+n)`` overlap on the same diagonal; a
    second interval-merge pass coalesces those before aggregation, so a
    popular mid-run gram can neither split a span nor double-count its
    tokens. Spans shorter than ``min_span_tokens`` are filtered at SPAN
    level before the pair rollup (the default ``= n`` is a no-op since
    every island spans >= n tokens by construction). Returns one row per
    document pair: (id_a, id_b, n_spans, longest_span_tokens,
    total_span_tokens).

    Scale shape: the only corpus-sized shuffles carry (id, pos, hash) —
    24 bytes per gram, never text. The gram frame feeds four lineages
    (the df-count aggregate, the rare join, both sides of the self-join)
    so it is cached — one tokenize+explode pass, not four — and the
    rare frame is cached across the two self-join sides. The
    document-frequency cap ``max_df`` drops non-discriminative grams
    before the self-join, bounding the per-gram pair fanout at max_df^2
    (the same skew valve the LSH bucket join uses); island windows
    partition by (pair, diagonal) — thousands of tiny groups, no skew.
    Gram identity is xxhash64 (collision odds ~m^2/2^65 — negligible at
    any corpus size where pair output itself is tractable); a
    belt-and-braces exact verify would re-slice the two texts at the
    reported offsets.
    """
    from pyspark.sql import Window

    from icerunner_spark.functions.text import word_ngrams

    if min_span_tokens is None:
        min_span_tokens = n
    from icerunner_spark.operators.spread import spread_if_narrow

    grams = (
        spread_if_narrow(df, id_col)
        # short documents have no full-length n-gram: word_ngrams pads to
        # one short gram, which would fabricate sub-n "spans"
        .filter(F.size(tokens(text_col)) >= n)
        .select(
            F.col(id_col).alias("id"),
            F.posexplode(word_ngrams(text_col, n)).alias("pos", "gram"),
        )
        .select("id", "pos", F.xxhash64("gram").alias("h"))
        .cache()
    )
    rare = grams.join(
        grams.groupBy("h")
        .agg(F.count_distinct("id").alias("df_"))
        .filter(F.col("df_") <= max_df)
        .select("h"),
        "h",
    ).cache()
    m = (
        rare.select(F.col("id").alias("id_a"), F.col("pos").alias("pos_a"), "h")
        .join(
            rare.select(F.col("id").alias("id_b"), F.col("pos").alias("pos_b"), "h"),
            "h",
        )
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag"))
    )
    w = Window.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    islands = (
        m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("id_a", "id_b", "diag", "grp")
        .agg(
            F.min("pos_a").alias("start_pos"),
            (F.max("pos_a") + F.lit(n)).alias("end_pos"),
        )
    )
    # interval-merge islands split by a max_df-dropped mid-run gram:
    # extents [start, end) on the same diagonal that overlap are one run
    wd = Window.partitionBy("id_a", "id_b", "diag").orderBy("start_pos")
    prev_end = F.max("end_pos").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    merged = (
        islands.withColumn(
            "new_run",
            F.when(
                prev_end.isNull() | (F.col("start_pos") >= prev_end), 1
            ).otherwise(0),
        )
        .withColumn(
            "run_id",
            F.sum("new_run").over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .groupBy("id_a", "id_b", "diag", "run_id")
        .agg(
            (F.max("end_pos") - F.min("start_pos"))
            .cast("bigint")
            .alias("span_tokens")
        )
    )
    pairs = (
        merged.filter(F.col("span_tokens") >= min_span_tokens)
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.max("span_tokens").alias("longest_span_tokens"),
            F.sum("span_tokens").alias("total_span_tokens"),
        )
    )
    # Scope the caches to this call (r6 verdict item 7): materialize the
    # bounded pair aggregate eagerly (localCheckpoint truncates lineage,
    # so the result no longer references the cached frames), then release
    # them — repeated calls in one session must not accumulate executor
    # storage. Output is one row per overlapping pair — far smaller than
    # the gram frame it summarizes.
    pairs = pairs.localCheckpoint(eager=True)
    grams.unpersist()
    rare.unpersist()
    return pairs
