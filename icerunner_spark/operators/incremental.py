"""Incremental (CDC-driven) corpus deduplication — SURVEY.md §2.C dedup
mandate composed with the snapshot table format's append-only CDC cursor
(``IceTable.scan_changes``; reference CDC surface at icerunner.py:209-259).

The operator a production 100 TB pipeline actually runs daily: dedup only
the newly-appended document rows against persisted dedup state, instead of
re-running exact/LSH dedup over the full corpus. Cost scales with the
DELTA (plus the state rows its LSH buckets touch), not the corpus.

Keep semantics — greedy-by-id ("first seen wins")
------------------------------------------------
A document is kept iff it does not duplicate any KEPT document with a
smaller id. This rule is *prefix-decomposable*: whether a document is
kept depends only on smaller-id documents, so for an append-only table
with monotonically increasing ids,

    full_greedy(prior ∪ delta)  ==  full_greedy(prior) ∪ incremental(kept(prior), delta)

exactly — pinned in tests/test_corpus.py. Component-min-id semantics
(``operators.corpus.resolve_near_duplicates``) are NOT incremental: a
later doc can bridge two previously-distinct clusters and retro-drop an
already-shipped document. For EXACT duplication the two rules coincide
(exact equality is transitive, so every group's min id wins either way);
they differ only for near-dup relations, which is why the incremental
near-dup path below implements the greedy rule.

Prior-DROPPED documents never matter under the greedy rule (a doc is
only ever dropped by a KEPT smaller doc), so the persisted state is just
the retained docs' signatures — the state table a daily pipeline keeps
anyway, and it SHRINKS relative to raw corpus history.

Near-dup candidates — MinHash bands and 64-bit hamming chunks alike —
come from ``operators.dedup.banded_pairs``, the operator the batch
paths run: the persisted state enters as prior rows, the delta as delta
rows, buckets without a delta member are pruned before any expansion,
and each pair carries whether its smaller side is prior. After the
family's verify, a delta doc paired with a prior doc drops at once and
the rest resolve by :func:`greedy_dropped_ids` over the delta-delta
pairs. An empty prior is therefore exactly the batch greedy dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icerunner_spark.functions.text import fingerprint64
from icerunner_spark.operators.dedup import (
    banded_pairs,
    hamming_pairs,
    jaccard_verify,
    minhash_band_keys,
    minhash_estimate_prefilter,
    minhash_signatures_from_grams,
    ngram_sets,
)


# --------------------------------------------------------------------------- #
# exact (fingerprint) incremental dedup
# --------------------------------------------------------------------------- #


def exact_dedup_state(kept: DataFrame, text_col: str) -> DataFrame:
    """Dedup state for the exact path: the distinct 64-bit fingerprints of
    the retained corpus — 8 bytes per kept document, the frame a daily
    pipeline persists (partitioned by fingerprint range) between runs."""
    return kept.select(fingerprint64(text_col).alias("fp")).distinct()


def incremental_exact_dedup(
    delta: DataFrame, state_fps: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Rows of ``delta`` that survive exact dedup against prior state:
    the minimum-id row of each within-delta fingerprint group, minus any
    fingerprint already present in ``state_fps`` (one shuffle on the
    8-byte fingerprint for the delta group-by, one anti-join against the
    state — the document text never shuffles; at scale both sides
    partition by fingerprint so the anti-join co-locates)."""
    fp = fingerprint64(text_col).alias("fp")
    winners = (
        delta.select(fp, F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias(id_col))
        .join(state_fps, "fp", "left_anti")
        .select(id_col)
    )
    return delta.join(winners, id_col, "left_semi")


# --------------------------------------------------------------------------- #
# greedy keep-rule over a verified pair graph
# --------------------------------------------------------------------------- #


def greedy_dropped_ids(
    pairs: DataFrame, *, max_iter: int = 50, driver_edge_cap: int = 2_000_000
) -> DataFrame:
    """(id) of documents DROPPED by the greedy-by-id rule, given verified
    near-dup ``pairs`` (id1 < id2).

    The pair graph is answer-sized (verified near-dups only), orders of
    magnitude below the corpus, so when its edge count fits
    ``driver_edge_cap`` the resolution runs driver-side in one pass:
    process nodes in ascending id, drop a node iff some smaller neighbor
    is kept — the sequential statement of the greedy rule, identical by
    construction to the fixed-point below (pinned in tests). The
    distributed rounds each cost several driver round-trip jobs + eager
    checkpoints — pure fixed overhead that dwarfed the data at every
    measured scale (r11 optimization round, guide §5: the driver does
    BOUNDED work; the collect is capped at ~32 MB of (u, v) longs, same
    pattern as the BPE driver-side trainer).

    Above the cap, the round structure (classic parallel greedy
    maximal-independent-set simulation, iterating over the PAIR graph
    only — never the corpus):

    - a node with no surviving in-edge (no undecided smaller neighbor)
      is decided KEPT;
    - every larger neighbor of a newly-kept node is decided DROPPED;
    - edges incident to decided nodes leave the graph (a dropped doc
      cannot drop anyone under the greedy rule).

    Each round is two joins + a distinct over the shrinking edge set,
    ``localCheckpoint``-ed so the plan stays flat. Rounds are bounded by
    the longest kept/dropped dependency chain — near-dup graphs are
    locally dense, so this converges in a handful of rounds.
    """
    edges = (
        pairs.select(F.col("id1").alias("u"), F.col("id2").alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = pairs.sparkSession
    # ONE action decides the path and fetches the edges (r12, guide §5
    # collapse driver round-trips): limit(cap+1).collect() against the
    # checkpointed blocks replaces the r11 count()-then-collect() pair —
    # one driver round trip instead of two on the answer-sized graphs
    # every caller actually has. The checkpoint stays: it is what makes
    # the take cheap, and above the cap the distributed fixed-point
    # iterates over it without re-running the pair pipeline.
    head = edges.limit(driver_edge_cap + 1).collect()
    if len(head) <= driver_edge_cap:
        smaller: dict = {}
        for r in head:
            smaller.setdefault(r[1], []).append(r[0])
        dropped_set: set = set()
        # ascending id: every smaller neighbor is decided before v —
        # Python int ordering == Spark bigint ordering, so the decision
        # sequence matches the distributed rounds exactly
        for v in sorted(smaller):
            for u in smaller[v]:
                if u not in dropped_set:
                    dropped_set.add(v)
                    break
        return spark.createDataFrame(
            [(int(i),) for i in sorted(dropped_set)], "id bigint"
        )
    dropped = spark.createDataFrame([], "id bigint").localCheckpoint(eager=True)
    for _ in range(max_iter):
        if edges.isEmpty():
            break
        targets = edges.select(F.col("v").alias("id")).distinct()
        # kept this round: edge sources that are nobody's larger endpoint
        kept_now = edges.select(F.col("u").alias("id")).distinct().join(
            targets, "id", "left_anti"
        )
        drop_now = (
            edges.join(kept_now.withColumnRenamed("id", "u"), "u")
            .select(F.col("v").alias("id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        dropped = dropped.union(drop_now).localCheckpoint(eager=True)
        decided = kept_now.union(drop_now)
        edges = (
            edges.join(decided.withColumnRenamed("id", "u"), "u", "left_anti")
            .join(decided.withColumnRenamed("id", "v"), "v", "left_anti")
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
    return dropped.distinct()


def _greedy_delta_drops(verified: DataFrame) -> DataFrame:
    """(id) of the delta docs the greedy rule drops, from verified
    (id1, id2, prior) pairs whose id2 is a delta doc. A delta doc paired
    with a prior doc drops at once: prior kept docs are all smaller-id
    and final. The other delta docs resolve through
    :func:`greedy_dropped_ids` over the delta-delta pairs between them.
    With an empty prior every pair is delta-delta, so this is the batch
    greedy rule."""
    # checkpointed: both filters below read it, and its lineage is the
    # whole candidate-and-verify pipeline
    v = verified.select("id1", "id2", "prior").localCheckpoint(eager=True)
    by_prior = v.filter("prior").select(F.col("id2").alias("id")).distinct()
    delta_pairs = (
        v.filter(~F.col("prior"))
        .select("id1", "id2")
        .join(by_prior.withColumnRenamed("id", "id1"), "id1", "left_anti")
        .join(by_prior.withColumnRenamed("id", "id2"), "id2", "left_anti")
    )
    return by_prior.union(greedy_dropped_ids(delta_pairs))


# --------------------------------------------------------------------------- #
# MinHash-LSH incremental near-dup dedup
# --------------------------------------------------------------------------- #


def minhash_dedup_state(
    kept: DataFrame, id_col: str, text_col: str, *, n_hashes: int = 64,
    shingle: int = 5,
) -> DataFrame:
    """(id, sig) MinHash signatures of the retained corpus — the near-dup
    dedup state a daily pipeline persists between runs (k longs per kept
    doc; at scale stored bucketed by band hash so an incremental run
    reads only the buckets its delta touches)."""
    return minhash_signatures_from_grams(
        ngram_sets(kept, id_col, text_col, shingle=shingle, hashed=True),
        n_hashes=n_hashes,
    )


def incremental_minhash_dedup(
    prior_kept: DataFrame,
    delta: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 5,
    threshold: float = 0.4,
    max_bucket: int = 200,
    state_sigs: DataFrame | None = None,
) -> DataFrame:
    """Rows of ``delta`` surviving greedy near-dup dedup against the
    retained prior corpus and each other.

    Contract: ids are append-monotone (every delta id exceeds every
    prior id) — what an append-only documents table with a sequence- or
    snapshot-derived id column provides naturally. Under that contract
    the result equals the delta slice of a full-corpus greedy re-dedup
    (module docstring; pinned in tests).

    Scale shape: only the DELTA is shingled/signed from text. Prior
    signatures come from the persisted ``state_sigs`` (recomputed here
    if absent); band buckets are built for prior ∪ delta but buckets
    containing no delta doc are discarded before any pair expansion —
    with the state table physically bucketed by (band, band_hash),
    that's a partition-pruned read of the touched buckets, not a state
    scan. Candidate pairs always involve a delta doc; the exact-Jaccard
    verify then re-shingles only the ≤ candidate-many prior docs
    (semi-join on the prior corpus), so verify cost is candidate-bounded
    too. Greedy resolution: a delta doc adjacent to any verified prior
    doc drops immediately (prior kept docs are all smaller-id and final);
    the survivors' delta-delta subgraph goes through
    :func:`greedy_dropped_ids`.

    One caveat on the full==incremental equivalence: the ``max_bucket``
    skew cap sees smaller buckets here (prior KEPT ∪ delta) than a full
    re-dedup does (every doc ever seen), so a bucket straddling the cap
    can differ. Both runs stay within the greedy contract; the
    equivalence tests pin with caps the fixtures never hit.
    """
    keys = minhash_band_keys(n_hashes, bands)
    delta_grams = ngram_sets(
        delta, id_col, text_col, shingle=shingle, hashed=True
    ).cache()
    # cached: three consumers (band buckets and both prefilter sides) —
    # uncached, the 64-seeded-hash signature aggregate re-ran per
    # consumer (measured ~70 s of duplicated executor time at sf0.1)
    delta_sigs = minhash_signatures_from_grams(
        delta_grams, n_hashes=n_hashes
    ).cache()
    prior_sigs = (
        state_sigs
        if state_sigs is not None
        else minhash_dedup_state(
            prior_kept, id_col, text_col, n_hashes=n_hashes, shingle=shingle
        )
    )
    cand = banded_pairs(
        delta_sigs, keys, ("id",), max_bucket=max_bucket, prior=prior_sigs
    )
    # id2 is always a delta doc; id1's signature may be prior or delta
    cand = minhash_estimate_prefilter(
        cand, prior_sigs.unionByName(delta_sigs), delta_sigs,
        n_hashes=n_hashes, threshold=threshold,
    )
    # exact-Jaccard verify re-shingles only the candidate prior docs
    # (semi-join — delta-scaled, not corpus-scaled); delta grams are cached
    prior_cand = prior_kept.join(
        cand.filter("prior").select(F.col("id1").alias(id_col)).distinct(),
        id_col,
        "left_semi",
    )
    prior_cand_grams = ngram_sets(
        prior_cand, id_col, text_col, shingle=shingle, hashed=True
    )
    verified = jaccard_verify(
        cand, prior_cand_grams.unionByName(delta_grams), delta_grams,
        threshold=threshold,
    )
    return delta.join(
        _greedy_delta_drops(verified).withColumnRenamed("id", id_col),
        id_col,
        "left_anti",
    )


def greedy_minhash_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_hashes: int = 64,
    bands: int = 16,
    shingle: int = 5,
    threshold: float = 0.4,
    max_bucket: int = 200,
    with_state: bool = False,
) -> DataFrame:
    """Full-corpus greedy near-dup dedup: MinHash-LSH verified pairs
    (operators.dedup.minhash_neardup_pairs) resolved by the greedy-by-id
    rule. The batch twin of :func:`incremental_minhash_dedup` — running
    it over prior ∪ delta must equal running it over prior and then the
    incremental operator over delta (the equivalence tests pin).

    ``with_state=True`` returns ``(kept, kept_sigs)`` where ``kept_sigs``
    is the retained docs' MinHash state — the SAME (id, sig) frame
    :func:`minhash_dedup_state` computes, but filtered out of the
    signatures this pass already built instead of re-shingling the kept
    corpus from raw text (r11 optimization round, guide §1.2 "don't
    compute things you throw away": the pair pass signs every doc, and
    the state is a subset of exactly those signatures)."""
    from icerunner_spark.operators.dedup import minhash_neardup_pairs

    pairs, _grams, sigs = minhash_neardup_pairs(
        df,
        id_col,
        text_col,
        n_hashes=n_hashes,
        bands=bands,
        shingle=shingle,
        threshold=threshold,
        _return_internal=True,
    )
    dropped = greedy_dropped_ids(pairs.select("id1", "id2"))
    kept = df.join(dropped.withColumnRenamed("id", id_col), id_col, "left_anti")
    if with_state:
        kept_sigs = sigs.join(
            kept.select(F.col(id_col).alias("id")), "id", "left_semi"
        )
        return kept, kept_sigs
    return kept


# --------------------------------------------------------------------------- #
# incremental hamming-signature dedup (simhash text / image dHash / audio
# fingerprints — any 64-bit signature frame)
# --------------------------------------------------------------------------- #


def incremental_hamming_dedup(
    prior_sigs: DataFrame,
    delta_sigs: DataFrame,
    *,
    max_distance: int = 6,
    chunk_bits: int | None = None,
    max_bucket: int = 200,
) -> DataFrame:
    """Delta signatures surviving greedy hamming near-dup dedup against
    the retained prior corpus and each other — the CDC daily-run twin of
    ``operators.dedup.hamming_neardup_pairs``, shared by every 64-bit
    signature family (simhash text, image dHash, audio energy
    fingerprints, per-frame video hashes).

    Inputs are (``id``, ``sig``) frames; ids obey the append-monotone
    contract (module docstring), under which the result equals the delta
    slice of a full greedy re-dedup (:func:`greedy_hamming_dedup`;
    equivalence pinned in tests). Media blobs never appear here at all —
    the state a pipeline persists is 16 bytes per kept asset, and this
    operator moves only chunk buckets the DELTA touches (with the state
    table physically bucketed by (chunk, value), a partition-pruned
    read). Distance needs no re-verify pass: it is exact from the
    signatures themselves (bit_count of XOR)."""
    verified = hamming_pairs(
        delta_sigs, max_distance=max_distance, chunk_bits=chunk_bits,
        max_bucket=max_bucket, prior=prior_sigs,
    )
    return delta_sigs.join(_greedy_delta_drops(verified), "id", "left_anti")


def greedy_hamming_dedup(
    sigs: DataFrame,
    *,
    max_distance: int = 6,
    chunk_bits: int | None = None,
    max_bucket: int = 200,
) -> DataFrame:
    """Full-corpus greedy hamming dedup over an (id, sig) frame — the
    batch twin of :func:`incremental_hamming_dedup`; running it over
    prior ∪ delta must equal prior-run ∪ incremental (pinned)."""
    from icerunner_spark.operators.dedup import hamming_neardup_pairs

    pairs = hamming_neardup_pairs(
        sigs,
        max_distance=max_distance,
        chunk_bits=chunk_bits,
        max_bucket=max_bucket,
    )
    dropped = greedy_dropped_ids(pairs.select("id1", "id2"))
    return sigs.join(dropped, "id", "left_anti")


# --------------------------------------------------------------------------- #
# in-place continuous-clean maintenance (CDC dedup + merge-on-read delete)
# --------------------------------------------------------------------------- #


def dedup_maintenance_pass(
    table, cursor_snapshot_id, *, id_col: str = "doc_id", text_col: str = "text"
):
    """ONE pass of the continuous corpus-clean loop, in place on a
    snapshot table: read the rows appended since ``cursor_snapshot_id``
    (``scan_changes``), exact-dedup them against the RETAINED corpus as
    of the cursor (greedy-by-id: a delta row loses to any kept smaller-id
    row, in-corpus or in-delta), and remove the losers with a
    MERGE-ON-READ positional delete — the whole pass costs
    O(delta + fingerprint state), never a table rewrite.

    Returns ``(n_removed, new_cursor_snapshot_id)``. Run the next pass
    with the returned cursor: the delete commit precedes it, so the next
    ``scan_changes`` range never crosses a non-append snapshot. A pass
    with no duplicates publishes nothing and just advances the cursor.

    At 100 TB: the fingerprint state is a distinct-select over the
    retained corpus here; a production deployment persists it between
    runs (``exact_dedup_state``) partitioned by fingerprint range, making
    each pass's cost independent of corpus size."""
    delta = table.scan_changes(cursor_snapshot_id)
    prior_kept = table.scan(snapshot_id=cursor_snapshot_id)
    state = exact_dedup_state(prior_kept, text_col)
    survivors = incremental_exact_dedup(delta, state, id_col, text_col)
    # ids are the corpus's unique document ids — the loser list keys the
    # delete (delete_rows semi-join), so duplicate ids across history
    # would over-delete; the append-only ingest model guarantees them
    losers = (
        delta.select(id_col)
        .join(survivors.select(id_col), id_col, "left_anti")
        .persist()
    )
    try:
        n_losers = losers.count()
        if n_losers == 0:
            return 0, table.current_snapshot().snapshot_id
        snap = table.delete_rows(losers, [id_col], mode="merge-on-read")
        return n_losers, snap.snapshot_id
    finally:
        losers.unpersist()
