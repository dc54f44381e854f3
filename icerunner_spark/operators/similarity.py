"""Similarity search over embedding columns (SURVEY.md §2.C).

Every single-query top-k is a candidate generator followed by ONE exact
rescore (:func:`_rescore`): cosine against the literal query, a
codegen'd zip_with/aggregate fold, then top-k by (cos_sim desc, ids asc)
as TakeOrderedAndProject (per-partition heaps + a driver merge of k
rows, no global sort). The generators differ only in which rows reach
the rescore:

- **brute force** (:func:`cosine_topk`): every row — the exact baseline,
  a full scan at scan speed;
- **random-hyperplane LSH** (:func:`ann_lsh_topk`): rows whose H-bit
  signature lies within ``probe_hamming`` bit flips of the query's;
- **IVF** (:func:`ivf_topk`): rows in the ``n_probe`` cells whose
  centroids are nearest the query;
- **PQ** (:func:`pq_topk`): the ``k * rerank`` rows with the best
  asymmetric distance over their product-quantized codes;
- **persisted IVF index** (``operators.ann_index``): the probed cells'
  partitions, pruned at planning.

Because the rescore is exact, precision is 1 and recall depends only on
the candidate set: a generator that passes every row returns brute
force's answer. int8 quantization (:func:`quantize_embeddings`) narrows
what candidate generation moves. The batch operators (:func:`knn_join`,
:func:`cosine_neardup_pairs`) share the LSH signature and the
normalize-once projection (:func:`_unit_vectors`).

Hyperplanes are generated from a fixed seed driver-side (tiny: H x dim
floats) and broadcast as literals — deterministic across runs and engines.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from icerunner_spark.functions.vector import cosine_similarity, dot, l2_norm


def _as_double_array(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _rescore(
    cand: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str,
    id_cols: tuple[str, ...],
    k: int,
) -> DataFrame:
    """The exact stage every top-k ends in: cosine of each candidate
    against the literal query, top k by (cos_sim desc, ids asc).
    Returns (*id_cols, cos_sim)."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = cand.select(
        *id_cols,
        cosine_similarity(_as_double_array(vec_col), q).alias("cos_sim"),
    )
    return scored.orderBy(F.desc("cos_sim"), *[F.asc(c) for c in id_cols]).limit(k)


def _check_query_dim(query_vec: list[float], dim: int, index: str) -> None:
    if len(query_vec) != dim:
        raise ValueError(
            f"query has dimension {len(query_vec)} but the {index} have dimension {dim}"
        )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_cols: tuple[str, ...] = ("vec_id",),
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine similarity against a literal query vector:
    every row is a candidate."""
    return _rescore(df, query_vec, vec_col=vec_col, id_cols=id_cols, k=k)


def _hyperplanes(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = random.Random(seed)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_signature(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """Integer bucket id: bit p = sign(dot(vec, plane_p)). Codegen'd —
    one zip_with/aggregate per plane over the array column."""
    v = _as_double_array(vec_col)
    bits = []
    for p, plane in enumerate(planes):
        d = dot(v, F.array(*[F.lit(x) for x in plane]))
        bits.append(F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def _query_signature(query_vec: list[float], planes: list[list[float]]) -> int:
    """Driver-side :func:`lsh_signature` of a literal query vector."""
    return sum(
        1 << p
        for p, plane in enumerate(planes)
        if sum(a * b for a, b in zip(query_vec, plane)) >= 0
    )


def _signature_probes(sig_value: int, n_planes: int, probe_hamming: int) -> list[int]:
    """The query bucket plus all buckets within ``probe_hamming`` bit flips
    (multi-probe LSH). probe_hamming=0 -> exact bucket only."""
    from itertools import combinations

    probes = {sig_value}
    for h in range(1, probe_hamming + 1):
        for flips in combinations(range(n_planes), h):
            v = sig_value
            for f in flips:
                v ^= 1 << f
            probes.add(v)
    return sorted(probes)


def ann_lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_cols: tuple[str, ...] = ("vec_id",),
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: probe the query's LSH bucket plus all buckets
    within ``probe_hamming`` bit flips, exact-rescore only those
    candidates.

    With n_planes=8 the corpus splits into 256 buckets — candidates drop
    roughly (probed buckets)/256-fold versus brute force. Recall depends
    on how clustered the corpus is: for strongly clustered embeddings the
    query's neighbors share its bucket; for near-uniform vectors recall
    tracks the candidate fraction, so tune (n_planes, probe_hamming) to
    the recall target (measured pins in tests/test_operators.py). The
    scan prunes on a precomputed signature column when present (name
    ``__lsh_sig``), enabling partition pruning when the table is written
    partitioned by signature — the on-disk layout a 100 TB deployment
    would use."""
    planes = _hyperplanes(len(query_vec), n_planes, seed)
    probes = _signature_probes(
        _query_signature(query_vec, planes), n_planes, probe_hamming
    )
    if "__lsh_sig" not in df.columns:
        df = df.withColumn("__lsh_sig", lsh_signature(vec_col, planes))
    cand = df.filter(F.col("__lsh_sig").isin(probes))
    return _rescore(cand, query_vec, vec_col=vec_col, id_cols=id_cols, k=k)


def _dim_and_planes(
    df: DataFrame, vec_col: str, n_planes: int, seed: int
) -> tuple[int, list[list[float]]] | None:
    """The first row's vector dimension and the hyperplanes sized to it,
    or None for an empty frame (the caller returns its empty result)."""
    row = df.select(F.size(_as_double_array(vec_col)).alias("d")).first()
    if row is None:
        return None
    return row["d"], _hyperplanes(row["d"], n_planes, seed)


def _unit_vectors(df: DataFrame, id_col: Column, vec_col: str) -> DataFrame:
    """(id_col, v): each vector divided by its L2 norm ONCE (zero vectors
    pass through unchanged), so every later pair pays a single dot
    product instead of dot + 2 norms. It runs after spread_if_narrow,
    which spreads the pair stage: embedding parquet is compact, so the
    scan alone may give fewer partitions than cores (measured 20x on
    local[32] at sf0.1)."""
    from icerunner_spark.operators.spread import spread_if_narrow

    v = _as_double_array(vec_col)
    norm = l2_norm(v)
    return spread_if_narrow(df).select(
        id_col,
        F.when(norm > 0, F.transform(v, lambda x: x / norm)).otherwise(v).alias("v"),
    )


def cosine_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    seed: int = 42,
    exact: bool = False,
) -> DataFrame:
    """All pairs with cosine >= threshold.

    exact=False (default): LSH-bucketed — only same-bucket pairs are
    scored (near-identical vectors agree on every hyperplane sign with
    high probability); the per-pair score is one zip_with fold because
    bucket pair counts are bounded. exact=True: the genuinely quadratic
    all-pairs variant, computed by BLOCK MATMUL — vectors hash into
    ~``block_size``-row blocks, the (nb * (nb+1) / 2) block pairs are
    enumerated by a broadcast range join and scored with one numpy
    ``V1 @ V2.T`` per pair of blocks inside an Arrow-batched stage.
    Same O(n^2) work as a pair join scored by a fold, but at BLAS
    throughput instead of ~3 us per interpreted fold (an sf1 probe
    measured the fold version at >600 s for 20k vectors; the matmul
    takes ~2 s) — which moves exact all-pairs from "demo only" to
    "feasible up to ~10M vectors"; beyond that the LSH/IVF candidate
    generators are the path regardless. Returns (id1, id2, cos_sim)."""
    prelude = _dim_and_planes(df, vec_col, n_planes, seed)
    if prelude is None:
        return df.sparkSession.createDataFrame([], "id1 long, id2 long, cos_sim double")
    dim, planes = prelude
    base = _unit_vectors(df, F.col(id_col).cast("long").alias("id"), vec_col)
    if exact:
        return _exact_block_matmul_pairs(base, threshold, dim)
    a = base.withColumn("__b", lsh_signature("v", planes)).select(
        F.col("id").alias("id1"), F.col("v").alias("v1"), F.col("__b").alias("b1")
    )
    b = base.withColumn("__b", lsh_signature("v", planes)).select(
        F.col("id").alias("id2"), F.col("v").alias("v2"), F.col("__b").alias("b2")
    )
    joined = a.join(
        b, (F.col("b1") == F.col("b2")) & (F.col("id1") < F.col("id2"))
    )
    return joined.select("id1", "id2", dot("v1", "v2").alias("cos_sim")).filter(
        F.col("cos_sim") >= threshold
    )


def _exact_block_matmul_pairs(
    base: DataFrame, threshold: float, dim: int, block_size: int = 1024
) -> DataFrame:
    """All-pairs cosine over normalized (id, v) rows via block matmul.

    Shape: one shuffle groups vectors into nb = ceil(n / block_size)
    hash blocks (~0.5 MB each at dim 64); a broadcast range x range
    theta join enumerates the nb*(nb+1)/2 unordered block pairs (tiny
    8-byte rows — never a corpus cartesian); two shuffle equi-joins
    attach the block contents (replication factor nb, inherent to
    all-pairs); each task scores its block pair with ONE numpy matmul
    and emits only the thresholded survivors. Same-block pairs dedupe
    via id1 < id2 inside the matrix; cross-block pairs emit (min, max).
    NULL / wrong-dimension vectors drop (their fold-version cosine was
    NULL and never survived the threshold)."""
    import math

    spark = base.sparkSession
    n = base.count()
    nb = max(1, math.ceil(n / block_size))
    g = (
        base.withColumn("blk", F.pmod(F.xxhash64("id"), F.lit(nb)))
        .groupBy("blk")
        .agg(F.collect_list(F.struct("id", "v")).alias("items"))
    )
    idx = spark.range(nb).select(F.col("id").alias("blk1")).join(
        F.broadcast(spark.range(nb).select(F.col("id").alias("blk2"))),
        F.col("blk1") <= F.col("blk2"),
    )
    bp = (
        idx.join(g.select(F.col("blk").alias("blk1"), F.col("items").alias("items1")), "blk1")
        .join(g.select(F.col("blk").alias("blk2"), F.col("items").alias("items2")), "blk2")
    )

    def score(it):
        import pandas as pd

        empty = pd.DataFrame(
            {
                "id1": np.array([], np.int64),
                "id2": np.array([], np.int64),
                "cos_sim": np.array([], np.float64),
            }
        )
        for pdf in it:
            got = False
            for b1, b2, items1, items2 in zip(
                pdf["blk1"], pdf["blk2"], pdf["items1"], pdf["items2"]
            ):
                def unpack(items):
                    ids, vecs = [], []
                    for r in items:
                        vv = r["v"]
                        if vv is not None and len(vv) == dim:
                            ids.append(r["id"])
                            vecs.append(vv)
                    return (
                        np.asarray(ids, np.int64),
                        np.asarray(vecs, np.float64).reshape(len(ids), dim),
                    )

                ids1, v1 = unpack(items1)
                ids2, v2 = unpack(items2)
                if not len(ids1) or not len(ids2):
                    continue
                sims = v1 @ v2.T
                mask = sims >= threshold
                if b1 == b2:
                    # items1 is items2: keep each unordered pair once
                    mask &= ids1[:, None] < ids2[None, :]
                ii, jj = np.nonzero(mask)
                if not len(ii):
                    continue
                got = True
                lo = np.minimum(ids1[ii], ids2[jj])
                hi = np.maximum(ids1[ii], ids2[jj])
                yield pd.DataFrame(
                    {"id1": lo, "id2": hi, "cos_sim": sims[ii, jj]}
                )
            if not got:
                yield empty

    return bp.mapInPandas(score, schema="id1 long, id2 long, cos_sim double")


def quantize_embeddings(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    q_col: str = "q_embedding",
    scale_col: str = "q_scale",
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-row scale =
    max|x|/127, stored as ``array<tinyint>`` + one float — a 4x (vs
    float32) / 8x (vs float64) storage and shuffle-width reduction.

    At 100 TB the embedding column IS most of the table; quantized
    vectors make candidate generation (LSH/IVF probing, knn_join) move
    4-8x fewer bytes, with exact re-scoring against the full-precision
    column only for the few survivors. All JVM-side expressions — the
    quantize/dequantize round trip never leaves codegen."""
    v = _as_double_array(vec_col)
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = F.when(max_abs > 0, max_abs / F.lit(127.0)).otherwise(F.lit(1.0))
    return df.withColumn(scale_col, scale).withColumn(
        q_col,
        F.transform(v, lambda x: F.round(x / F.col(scale_col)).cast("tinyint")),
    )


def dequantize(q_col: Column | str, scale_col: Column | str) -> Column:
    """array<double> reconstruction of a quantized embedding."""
    q = F.col(q_col) if isinstance(q_col, str) else q_col
    s = F.col(scale_col) if isinstance(scale_col, str) else scale_col
    return F.transform(q, lambda x: x.cast("double") * s)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id_col: str = "q_id",
    corpus_id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Batch ANN k-NN join: for EVERY query vector, its approximate top-k
    corpus neighbors — the many-to-many companion of ann_lsh_topk (which
    serves one query).

    Shape: normalize both sides once; signature each corpus vector into a
    2^n_planes-bucket space; explode each query into its bucket plus all
    hamming-1 probes; equi-join on the bucket id; one dot product per
    surviving pair; per-query top-k via a row_number window. Scale notes:
    the join is an *equi*-join on the bucket (shuffle-hash, no cross
    product — candidate count ~ (1+n_planes)/2^n_planes of |Q|x|C|);
    normalization happens below a repartition so each vector pays it once
    (no CSE across the exchange otherwise); probe signatures are distinct
    bit-flips, so no pair joins twice and no dedup pass is needed. The
    window shuffles only scored candidate pairs on q_id, k rows survive
    per query. Recall pinned vs brute force in tests/test_operators.py."""
    from pyspark.sql import Window

    prelude = _dim_and_planes(corpus, vec_col, n_planes, seed)
    if prelude is None:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {corpus_id_col} long, cos_sim double, rn int"
        )
    _, planes = prelude
    c = _unit_vectors(corpus, F.col(corpus_id_col).alias("c_id"), vec_col).select(
        "c_id", F.col("v").alias("cv"), lsh_signature("v", planes).alias("sig")
    )
    q = _unit_vectors(queries, F.col(query_id_col).alias("q_id_"), vec_col).withColumn(
        "sig0", lsh_signature("v", planes)
    )
    # the probes of signature 0 are the bit-flip masks within
    # probe_hamming: XOR with each enumerates the query's probe
    # neighborhood (distinct masks => distinct probe sigs => no pair
    # ever joins twice)
    masks = _signature_probes(0, n_planes, probe_hamming)
    probe_cols = [F.col("sig0").bitwiseXOR(F.lit(m)) for m in masks]
    qp = q.select(
        "q_id_",
        F.col("v").alias("qv"),
        F.explode(F.array(*probe_cols)).alias("sig"),
    )
    pairs = qp.join(c, "sig")
    # per-pair dot stays Catalyst: a single zip_with fold over 64 doubles
    # beat an Arrow-batched einsum pandas UDF by ~25% end-to-end here
    # (worker round-trip dominates at pair cardinality) — the opposite of
    # the n_centroids-way matmuls in ivf/pq, where the literal expression
    # tree fell out of codegen and numpy won ~10x
    scored = pairs.select("q_id_", "c_id", dot("qv", "cv").alias("cos_sim"))
    w = Window.partitionBy("q_id_").orderBy(F.desc("cos_sim"), F.asc("c_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            F.col("q_id_").alias(query_id_col),
            F.col("c_id").alias(corpus_id_col),
            "cos_sim",
            "rn",
        )
    )


# --------------------------------------------------------------------------- #
# IVF (inverted-file) ANN — the coarse-quantizer scale path
# --------------------------------------------------------------------------- #


def _hash_sample(df: DataFrame, *, vec_col: str, id_col: str, n: int) -> list[list[float]]:
    """The non-null vectors among the ``n`` rows with the smallest
    xxhash64(id) (ties to the lower id): a stable pseudo-random sample,
    identical across runs and engines. A bounded n-row collect."""
    rows = (
        df.select(F.col(id_col).alias("i"), _as_double_array(vec_col).alias("v"))
        .orderBy(F.xxhash64(F.col("i").cast("string")), F.col("i"))
        .limit(n)
        .collect()
    )
    return [list(r["v"]) for r in rows if r["v"] is not None]


def _stack_valid(v: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray | None]:
    """(valid mask, float64 matrix of the valid rows) for one Arrow batch
    of array values. NULL or wrong-dimension vectors (dirty embedding
    data) are masked out, so the UDF emits NULL for them instead of
    failing the task."""
    arrs = v.to_numpy()
    valid = np.fromiter(
        (a is not None and len(a) == dim for a in arrs),
        dtype=bool,
        count=len(arrs),
    )
    E = np.stack(arrs[valid]).astype(np.float64) if valid.any() else None
    return valid, E


def _nearest_cells(
    query_vec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """Indices of the ``n_probe`` centroids nearest the query: max dot
    with the normalized query, ties to the lower index."""
    _check_query_dim(query_vec, len(centroids[0]), "centroids")
    qn = math.sqrt(sum(x * x for x in query_vec)) or 1.0
    q = [x / qn for x in query_vec]
    by_dist = sorted(
        range(len(centroids)),
        key=lambda i: -sum(a * b for a, b in zip(q, centroids[i])),
    )
    return by_dist[:n_probe]


def _deterministic_centroids(
    df: DataFrame,
    *,
    vec_col: str,
    id_col: str,
    n_centroids: int,
    lloyd_iters: int = 2,
) -> list[list[float]]:
    """Deterministic k-means centroids: seed with the rows carrying the
    smallest xxhash64(id) (a stable pseudo-random sample, identical
    across runs and engines), then refine with ``lloyd_iters`` fixed
    Lloyd iterations — distributed assign (ivf_assign's Arrow-batched
    matmul) + per-(cell, dim) mean aggregation. The means sum in DECIMAL,
    so they are exact and partition-order-independent: training twice
    yields bit-identical centroids. Driver transfer per round is
    n_centroids x dim aggregate rows — bounded, never corpus-sized. (At
    100 TB you'd refine on a bounded sample first, as FAISS does — the
    aggregation shape is the same.)"""

    def _unit(v: list[float]) -> list[float]:
        n = math.sqrt(sum(x * x for x in v)) or 1.0
        return [x / n for x in v]

    cents = [
        _unit(v)
        for v in _hash_sample(df, vec_col=vec_col, id_col=id_col, n=n_centroids)
    ]
    # fewer vectors than requested centroids (tiny/empty corpus): train on
    # what exists — every later step sizes off len(cents), never the ask
    if not cents or lloyd_iters <= 0:
        return cents
    dim = len(cents[0])
    vecs = df.select(_as_double_array(vec_col).alias("__v")).where(
        F.col("__v").isNotNull() & (F.size("__v") == dim)
    )
    for _ in range(lloyd_iters):
        assigned = ivf_assign(vecs, cents, vec_col="__v", cell_col="__c")
        stats = (
            assigned.select(F.col("__c"), F.posexplode("__v").alias("pos", "val"))
            .groupBy("__c", "pos")
            .agg(
                F.sum(F.col("val").cast("decimal(30,15)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        sums: dict[int, list] = {}
        counts: dict[int, int] = {}
        for r in stats:
            c = r["__c"]
            if c is None or not (0 <= r["pos"] < dim):
                continue
            sums.setdefault(c, [0.0] * dim)[r["pos"]] = float(r["s"])
            counts[c] = r["n"]
        cents = [
            _unit([x / counts[c] for x in sums[c]]) if counts.get(c) else cents[c]
            for c in range(len(cents))
        ]
    return cents


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    *,
    vec_col: str = "embedding",
    cell_col: str = "__ivf_cell",
) -> DataFrame:
    """Assign every vector to its nearest centroid (max dot on normalized
    centroids). At 100 TB this column is the partition key the index is
    written under — probing then prunes whole partitions at the scan."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)  # (n_centroids, dim), unit rows

    # Arrow-batched BLAS: one (batch x dim) @ (dim x n_centroids) matmul per
    # Arrow batch. The earlier pure-Catalyst formulation (an n_centroids-way
    # array of aggregate/zip_with dots over literal arrays) exceeded codegen
    # limits and fell back to interpreted eval — ~1000x slower per row than
    # the matmul, and the gap widens with n_centroids. Ties break to the
    # lowest cell index (np.argmax == first max), matching the old
    # array_position semantics; zero-norm vectors land in cell 0 likewise.
    # NULL or wrong-dimension vectors get a NULL cell — the same null
    # propagation the pure-Catalyst formulation had.
    @pandas_udf("int")
    def _nearest_cell(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype="Int32")
        valid, E = _stack_valid(v, C.shape[1])
        out = pd.array([pd.NA] * len(v), dtype="Int32")
        if valid.any():
            norms = np.linalg.norm(E, axis=1)
            norms[norms == 0.0] = 1.0
            sims = (E / norms[:, None]) @ C.T
            out[valid] = np.argmax(sims, axis=1).astype(np.int32)
        return pd.Series(out)

    return df.withColumn(cell_col, _nearest_cell(F.col(vec_col)))


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_cols: tuple[str, ...] = ("vec_id",),
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: score only vectors whose cell is among
    the ``n_probe`` centroids nearest the query, exact-rescore those.
    Candidates ~ n_probe/n_centroids of the corpus; recall tracks how
    clustered the data is (pins in tests/test_operators.py). Precomputed
    ``centroids`` (the trained index — build once, query many) and
    ``__ivf_cell`` columns (ivf_assign, e.g. from a partitioned index
    table) are reused — then probing is partition pruning, no per-row
    assignment or training at query time."""
    cents = centroids or _deterministic_centroids(
        df, vec_col=vec_col, id_col=id_cols[0], n_centroids=n_centroids
    )
    if not cents:  # empty corpus -> empty result, not an index error
        return df.select(
            *id_cols, F.lit(None).cast("double").alias("cos_sim")
        ).limit(0)
    probes = _nearest_cells(query_vec, cents, n_probe)
    cand = df if "__ivf_cell" in df.columns else ivf_assign(df, cents, vec_col=vec_col)
    cand = cand.filter(F.col("__ivf_cell").isin(probes))
    return _rescore(cand, query_vec, vec_col=vec_col, id_cols=id_cols, k=k)


# --------------------------------------------------------------------------- #
# Product quantization (PQ)
# --------------------------------------------------------------------------- #


def pq_train_codebooks(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 16,
    lloyd_iters: int = 2,
) -> list[list[list[float]]]:
    """PQ codebooks: the embedding space split into ``m`` subspaces, each
    with ``n_codes`` L2 centroids — seeded from a deterministic sample
    (smallest xxhash64(id) rows, same selection rule as IVF's coarse
    quantizer) and refined with ``lloyd_iters`` fixed Lloyd iterations
    per subspace, all m subspaces in ONE distributed pass per round:
    encode with the current books (Arrow-batched argmin), explode to
    (subspace, code, dim) and mean-aggregate. DECIMAL sums make the
    means exact and partition-order-independent — training twice yields
    bit-identical books. Driver transfer per round is m x n_codes x sub
    aggregate rows, bounded. Returns ``codebooks[s][j]`` = centroid j of
    subspace s."""
    sample = _hash_sample(df, vec_col=vec_col, id_col=id_col, n=n_codes)
    if not sample:
        raise ValueError("pq_train_codebooks: no non-null vectors to train on")
    dim = len(sample[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    # fewer vectors than requested codes: train the codes that exist —
    # every later step sizes off the actual book length, never the ask
    books = [
        [[float(x) for x in v[s * sub : (s + 1) * sub]] for v in sample]
        for s in range(m)
    ]
    n_codes = len(books[0])
    if lloyd_iters <= 0:
        return books
    vecs = df.select(_as_double_array(vec_col).alias("__v")).where(
        F.col("__v").isNotNull() & (F.size("__v") == dim)
    )
    for _ in range(lloyd_iters):
        enc = pq_encode(vecs, books, vec_col="__v", code_col="__pq")
        stats = (
            enc.select(
                F.posexplode("__pq").alias("s", "code"), F.col("__v").alias("v")
            )
            .select(
                "s",
                "code",
                F.posexplode(F.expr(f"slice(v, s * {sub} + 1, {sub})")).alias(
                    "pos", "val"
                ),
            )
            .groupBy("s", "code", "pos")
            .agg(
                F.sum(F.col("val").cast("decimal(30,15)")).alias("sm"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        sums: dict[tuple, list] = {}
        counts: dict[tuple, int] = {}
        for r in stats:
            key = (r["s"], r["code"])
            if r["code"] is None or not (0 <= r["pos"] < sub):
                continue
            sums.setdefault(key, [0.0] * sub)[r["pos"]] = float(r["sm"])
            counts[key] = r["n"]
        books = [
            [
                [x / counts[(s, j)] for x in sums[(s, j)]]
                if counts.get((s, j))
                else books[s][j]
                for j in range(n_codes)
            ]
            for s in range(m)
        ]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode each vector as ``m`` centroid indices (nearest by L2 within
    each subspace): dim×float64 → m×int — a 64-128x width cut for the
    fixture's 64-dim vectors at m=4. Arrow-batched numpy: per batch, one
    subspace matmul each, minimizing ||x_s - c_j||² as -2·x_s·c_j +
    ||c_j||² (the ||x_s||² term is constant per row); argmin ties break
    to the lowest code index, same as the previous
    array_position(array_min) formulation (which fell out of codegen at
    m×n_codes literal dot products and ran interpreted)."""
    from pyspark.sql.functions import pandas_udf

    B = np.asarray(codebooks, dtype=np.float64)  # (m, n_codes, sub)
    m = B.shape[0]
    sub = B.shape[2]

    # NULL / wrong-dimension vectors encode to NULL: dirty embedding
    # data must degrade, not kill the job.
    @pandas_udf("array<int>")
    def _codes(v: pd.Series) -> pd.Series:
        if not len(v):
            return pd.Series([], dtype=object)
        valid, E = _stack_valid(v, m * sub)
        results = np.empty(len(v), dtype=object)
        if valid.any():
            out = np.empty((len(E), m), dtype=np.int32)
            for s in range(m):
                sub_e = E[:, s * sub : (s + 1) * sub]
                d = -2.0 * (sub_e @ B[s].T) + (B[s] * B[s]).sum(axis=1)
                out[:, s] = np.argmin(d, axis=1)
            for j, i in enumerate(np.nonzero(valid)[0]):
                results[i] = out[j]
        return pd.Series(results)

    return df.withColumn(code_col, _codes(F.col(vec_col)))


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    rerank: int = 4,
    m: int = 4,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: the query stays full-precision,
    candidates are scored from their PQ codes through an m×n_codes
    lookup table (lut[s][j] = q_s·c_sj, literal arrays — no join, no
    shuffle beyond the final TakeOrdered), then the top k·rerank
    candidates are rescored with exact cosine on the full vectors and
    the true top-k returned. At corpus scale the scan reads m ints per
    row instead of the embedding column; only k·rerank rows touch full
    precision."""
    books = codebooks or pq_train_codebooks(
        df, vec_col=vec_col, id_col=id_col, m=m, n_codes=n_codes
    )
    sub = len(books[0][0])
    _check_query_dim(query_vec, len(books) * sub, "codebooks (m * sub)")
    enc = pq_encode(df, books, vec_col=vec_col)
    approx = None
    for s, book in enumerate(books):
        q_s = query_vec[s * sub : (s + 1) * sub]
        lut = F.array(
            *[F.lit(float(sum(a * b for a, b in zip(q_s, c)))) for c in book]
        )
        term = F.element_at(lut, F.element_at("pq_code", s + 1) + 1)
        approx = term if approx is None else approx + term
    cands = (
        enc.withColumn("__adc", approx)
        .orderBy(F.desc("__adc"), id_col)
        .limit(k * rerank)
    )
    return _rescore(cands, query_vec, vec_col=vec_col, id_cols=(id_col,), k=k)


def semantic_best_match(
    df,
    eval_rows: list[tuple[int, list[float]]],
    *,
    id_col: str = "vec_id",
    vec_col: str = "v",
    payload_cols: tuple = ("label",),
    round_digits: int = 6,
):
    """Per-document argmax-cosine against a bounded eval-probe set — the
    scoring core of semantic test-set decontamination.

    eval_rows is the COLLECTED eval set (bounded by definition — an eval
    probe set is MBs against a TB corpus; callers cap it with a LIMIT
    before collecting). The scoring stage is ONE Arrow-batched
    ``mapInPandas``: each corpus batch is an (n, d) float64 matrix
    multiplied against the normalized (m, d) eval matrix (BLAS), and the
    per-document argmax happens INSIDE the batch, so exactly one row per
    corpus document leaves the stage. No pair frame ever exists — not in
    a shuffle, not even materialized in memory beyond one (batch x m)
    sims block.

    Numeric contract (oracle-portable): the winner per document is
    argmax over cosine ROUNDED to ``round_digits``, ties broken by
    LOWEST eval id (eval matrix is sorted ascending, np.argmax takes the
    first maximum). The emitted cos_sim is the RAW double of the winning
    pair, so callers apply their engine's own ROUND for display parity.

    Replaces a broadcast-cross-join + map-side max(struct(...))
    formulation: that plan was shuffle-optimal (one row per doc crossed
    the wire) but paid ~3 interpreted expression folds per (doc, eval)
    pair; an sf1 scale probe measured it at ~26 us/pair = 362 s for
    a 19k x 690 corpus. The matmul scores the same pairs in vectorized
    C at ~1000x the throughput, with the same one-row-per-doc output
    cardinality. Rows with NULL or wrong-dimension vectors are dropped
    (same observable result as the fold version, whose NULL cosine
    never survived the threshold filter)."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    ev = sorted(eval_rows, key=lambda r: r[0])
    eval_ids = np.array([r[0] for r in ev], dtype=np.int64)
    emat = np.array([r[1] for r in ev], dtype=np.float64)
    emat = emat / np.linalg.norm(emat, axis=1, keepdims=True)
    dim = emat.shape[1]

    src = df.select(id_col, *payload_cols, vec_col)
    out_schema = StructType(
        [f for f in src.schema.fields if f.name != vec_col]
        + [
            StructField("eval_id", src.schema[id_col].dataType),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def batches(it):
        import pandas as pd

        for pdf in it:
            vecs = pdf[vec_col]
            ok = vecs.map(lambda x: x is not None and len(x) == dim)
            pdf = pdf[ok]
            if not len(pdf):
                yield pd.DataFrame(columns=[f.name for f in out_schema.fields])
                continue
            v = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            norms = np.linalg.norm(v, axis=1, keepdims=True)
            norms[norms == 0] = 1.0
            sims = (v / norms) @ emat.T  # (batch, m) — the only pair block
            rounded = np.round(sims, round_digits)
            idx = np.argmax(rounded, axis=1)  # first max = lowest eval_id
            rows = np.arange(len(pdf))
            res = pdf.drop(columns=[vec_col]).copy()
            res["eval_id"] = eval_ids[idx]
            res["cos_sim"] = sims[rows, idx]
            yield res

    return src.mapInPandas(batches, schema=out_schema)
