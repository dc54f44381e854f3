"""Vectorized XXH64 with exact Spark ``xxhash64`` parity (numpy).

The near-dup pipeline's hot per-row work — shingle a document, hash every
shingle, take 64 seeded minimums — was pure Catalyst higher-order array
expressions. Those are *interpreted* per element (no codegen inside array
lambdas), and the r12 stage decomposition measured them as the dominant
executor cost of the whole minhash family at sf0.1: the gram-set build
was 89 s and the signature aggregate 39 s of dedup_minhash_lsh's 206 s
total executor time. Guide §4.2: let Spark do distribution and shuffles,
hand whole batches to vectorized native code. This module implements the
two kernels as ``mapInArrow`` batch functions over numpy uint64 ops.

Hash parity is EXACT, not merely injective: every value equals what
``F.xxhash64`` computes, so gram sets, MinHash signatures, LSH buckets
and every downstream oracle-paired result are bit-identical to the
expression formulation (pinned in tests/test_operators.py against
F.xxhash64 directly, and transitively by every dedup equivalence pin).
Spark's semantics replicated here:

- string input: XXH64 over the UTF-8 bytes, seed 42;
- ``xxhash64(long_col, lit(s))``: chained — ``hashInt(s, hashLong(v, 42))``
  (each child's hash seeds the next), where hashLong consumes the value
  as one 8-byte little-endian lane and hashInt as one 4-byte lane.

The scalar reference (``icerunner_spark.table._xxh64``) is the
pre-existing pure-Python implementation already pinned bit-identical to
``F.xxhash64``; it remains the fallback for non-ASCII documents, where
byte windows are not char windows.

Memory notes: this sandbox (and any fresh Python worker) pays extreme
first-touch page-fault cost, so the kernels stream through PREALLOCATED
per-process scratch chunks (``_Scratch``) instead of allocating
temporaries per vector op — warm throughput measured ~34 M hashes/s vs
~0.23 M/s allocation-per-op. Workers are reused across tasks
(spark.python.worker.reuse default), so the scratch stays warm for the
life of the executor python process (guide §4.5).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np

_U64 = np.uint64
_P1 = _U64(0x9E3779B185EBCA87)
_P2 = _U64(0xC2B2AE3D27D4EB4F)
_P3 = _U64(0x165667B19E3779F9)
_P4 = _U64(0x85EBCA77C2B2AE63)
_P5 = _U64(0x27D4EB2F165667C5)

_CHUNK = 1 << 18  # 256k rows per scratch pass: fits warm pages + L2/L3


class _Scratch:
    """Per-process reusable buffers for the chunked kernels."""

    def __init__(self, n: int) -> None:
        self.h = np.empty(n, dtype=np.uint64)
        self.t = np.empty(n, dtype=np.uint64)
        self.k = np.empty(n, dtype=np.uint64)
        self.b4 = np.empty((n, 4), dtype=np.uint8)
        self.b8 = np.empty((n, 8), dtype=np.uint8)


_SCRATCH: _Scratch | None = None


def _scratch() -> _Scratch:
    global _SCRATCH
    if _SCRATCH is None:
        np.seterr(over="ignore")
        _SCRATCH = _Scratch(_CHUNK)
    return _SCRATCH


def _rotl_into(x: np.ndarray, r: int, out: np.ndarray, tmp: np.ndarray) -> None:
    np.left_shift(x, _U64(r), out=tmp)
    np.right_shift(x, _U64(64 - r), out=out)
    np.bitwise_or(tmp, out, out=out)


def _fmix_into(h: np.ndarray, t: np.ndarray) -> None:
    np.right_shift(h, _U64(33), out=t)
    np.bitwise_xor(h, t, out=h)
    np.multiply(h, _P2, out=h)
    np.right_shift(h, _U64(29), out=t)
    np.bitwise_xor(h, t, out=h)
    np.multiply(h, _P3, out=h)
    np.right_shift(h, _U64(32), out=t)
    np.bitwise_xor(h, t, out=h)


def _hash_windows_chunk(w: np.ndarray, L: int, out: np.ndarray) -> None:
    """XXH64(seed 42) of each row of ``w`` — an (m, L) uint8 view, L < 32.
    Exact byte-stream algorithm for short inputs: 8-byte lanes, one
    4-byte lane, per-byte tail, avalanche."""
    s = _scratch()
    m = len(w)
    h, t, k = s.h[:m], s.t[:m], s.k[:m]
    h.fill(_U64(42) + _P5)
    h += _U64(L)
    i = 0
    while i + 8 <= L:
        b8 = s.b8[:m]
        np.copyto(b8, w[:, i:i + 8])
        k[:] = b8.view("<u8").ravel()
        np.multiply(k, _P2, out=k)
        _rotl_into(k, 31, k, t)
        np.multiply(k, _P1, out=k)
        np.bitwise_xor(h, k, out=h)
        _rotl_into(h, 27, h, t)
        np.multiply(h, _P1, out=h)
        h += _P4
        i += 8
    if i + 4 <= L:
        b4 = s.b4[:m]
        np.copyto(b4, w[:, i:i + 4])
        k[:] = b4.view("<u4").ravel()
        np.multiply(k, _P1, out=k)
        np.bitwise_xor(h, k, out=h)
        _rotl_into(h, 23, h, t)
        np.multiply(h, _P2, out=h)
        h += _P3
        i += 4
    while i < L:
        k[:] = w[:, i]
        np.multiply(k, _P5, out=k)
        np.bitwise_xor(h, k, out=h)
        _rotl_into(h, 11, h, t)
        np.multiply(h, _P1, out=h)
        i += 1
    _fmix_into(h, t)
    out[:] = h


def hash_windows(buf: np.ndarray, n: int, out: np.ndarray) -> None:
    """XXH64(seed 42) of every length-``n`` sliding window of ``buf``
    (uint8), written to ``out`` (uint64, len(buf)-n+1), chunked through
    the process scratch."""
    from numpy.lib.stride_tricks import sliding_window_view

    w = sliding_window_view(buf, n)
    for st in range(0, len(w), _CHUNK):
        _hash_windows_chunk(w[st:st + _CHUNK], n, out[st:st + _CHUNK])


def _hash_long_chunk(vals: np.ndarray, out: np.ndarray) -> None:
    """Spark XXH64.hashLong(v, seed=42): one 8-byte lane + avalanche."""
    s = _scratch()
    m = len(vals)
    h, t, k = s.h[:m], s.t[:m], s.k[:m]
    np.multiply(vals, _P2, out=k)
    _rotl_into(k, 31, k, t)
    np.multiply(k, _P1, out=k)
    h.fill(_U64(42) + _P5)
    h += _U64(8)
    np.bitwise_xor(h, k, out=h)
    _rotl_into(h, 27, h, t)
    np.multiply(h, _P1, out=h)
    h += _P4
    _fmix_into(h, t)
    out[:] = h


def hash_longs(vals_u64: np.ndarray, out: np.ndarray) -> None:
    for st in range(0, len(vals_u64), _CHUNK):
        _hash_long_chunk(vals_u64[st:st + _CHUNK], out[st:st + _CHUNK])


def _hash_int_chain_chunk(seed_int: int, h1: np.ndarray, out: np.ndarray) -> None:
    """Spark XXH64.hashInt(seed_int, seed=h1) — the second link of
    ``xxhash64(long_col, lit(int))``: one 4-byte lane + avalanche."""
    s = _scratch()
    m = len(h1)
    h, t = s.h[:m], s.t[:m]
    np.add(h1, _P5 + _U64(4), out=h)
    np.bitwise_xor(h, _U64(seed_int & 0xFFFFFFFF) * _P1, out=h)
    _rotl_into(h, 23, h, t)
    np.multiply(h, _P2, out=h)
    h += _P3
    _fmix_into(h, t)
    out[:] = h


def hashed_gram_sets_map(n: int) -> Callable:
    """mapInArrow function: (id int64, __norm string) ->
    (id int64, g list<int64>) where g is the doc's DISTINCT set of
    xxhash64 values over its character ``n``-grams — bit-identical to
    ``array_distinct(transform(array_distinct(char_ngrams(norm, n,
    normalized=True)), xxhash64))``, element order aside (all consumers
    treat g as a set: explode aggregates, array_intersect sizes).

    Replicated expression edge semantics: a doc shorter than ``n`` chars
    (including empty) contributes ONE gram — the whole text (char_ngrams'
    ``greatest(1, ...)`` sequence floor + substr truncation); a null text
    yields the one-element set {42} (char_ngrams(null) -> [null], and
    xxhash64 of a null returns its seed). ASCII docs take the vectorized
    byte-window path (byte windows == char windows); any non-ASCII doc
    falls back to the scalar per-gram reference (same values, chars
    first)."""

    def fn(batches: Iterator) -> Iterator:
        import pyarrow as pa

        from icerunner_spark.table import _xxh64

        for batch in batches:
            ids = batch.column(0)
            texts = batch.column(1)
            n_rows = len(ids)
            if n_rows == 0:
                continue
            # raw UTF-8 buffer + offsets (string or large_string layout)
            off_dtype = np.int64 if pa.types.is_large_string(texts.type) else np.int32
            bufs = texts.buffers()
            offsets = np.frombuffer(
                bufs[1], dtype=off_dtype, count=n_rows + 1,
                offset=texts.offset * np.dtype(off_dtype).itemsize,
            ).astype(np.int64)
            data = (
                np.frombuffer(bufs[2], dtype=np.uint8)
                if bufs[2] is not None
                else np.zeros(0, np.uint8)
            )
            valid = np.asarray(texts.is_valid())
            span = data[offsets[0]:offsets[-1]]
            all_ascii = span.max(initial=0) < 128
            # hash EVERY window of the concatenated buffer once (windows
            # crossing doc boundaries are discarded below: n-1 wasted
            # hashes per doc, negligible), then slice + unique per doc
            win_h = None
            if all_ascii and len(span) >= n:
                win_h = np.empty(len(span) - n + 1, dtype=np.uint64)
                hash_windows(span, n, win_h)
            base = offsets[0]
            out_vals: list[np.ndarray] = []
            out_offsets = np.zeros(n_rows + 1, dtype=np.int32)
            total = 0
            null_gram = np.array([42], dtype=np.int64)
            for i in range(n_rows):
                if not valid[i]:
                    # expression parity: char_ngrams(null) -> [null] and
                    # xxhash64(null) returns the SEED, so a null text
                    # yields the one-element set {42}
                    out_vals.append(null_gram)
                    total += 1
                    out_offsets[i + 1] = total
                    continue
                s0, s1 = offsets[i] - base, offsets[i + 1] - base
                ln = s1 - s0
                if ln >= n and win_h is not None:
                    uniq = np.unique(win_h[s0:s0 + ln - n + 1]).view(np.int64)
                else:
                    raw = data[base + s0:base + s1].tobytes()
                    txt = raw.decode("utf-8")
                    if len(txt) < n:
                        # char_ngrams short-doc floor: ONE gram, the text
                        hs = [_xxh64(raw, 42)]
                    else:
                        hs = [
                            _xxh64(txt[j:j + n].encode("utf-8"), 42)
                            for j in range(len(txt) - n + 1)
                        ]
                    uniq = np.unique(np.array(hs, dtype=np.uint64)).view(np.int64)
                out_vals.append(uniq)
                total += len(uniq)
                out_offsets[i + 1] = total
            values = (
                np.concatenate(out_vals) if out_vals else np.zeros(0, np.int64)
            )
            garr = pa.ListArray.from_arrays(
                pa.array(out_offsets, type=pa.int32()),
                pa.array(values, type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays([ids, garr], ["id", "g"])

    return fn


def minhash_sigs_map(n_hashes: int) -> Callable:
    """mapInArrow function: (id int64, g list<int64>) ->
    (id int64, sig list<int64>[n_hashes]) where
    sig[s] = min over g of xxhash64(gram, lit(s)) — bit-identical to the
    explode + 64-min-aggregate formulation (chained hashLong->hashInt
    semantics). Docs with null or empty gram arrays are dropped, exactly
    as ``explode`` drops them."""

    def fn(batches: Iterator) -> Iterator:
        import pyarrow as pa

        for batch in batches:
            ids = batch.column(0)
            g = batch.column(1)
            n_rows = len(ids)
            if n_rows == 0:
                continue
            off_dtype = np.int64 if pa.types.is_large_list(g.type) else np.int32
            goff = np.frombuffer(
                g.buffers()[1], dtype=off_dtype, count=n_rows + 1,
                offset=g.offset * np.dtype(off_dtype).itemsize,
            ).astype(np.int64)
            base = goff[0]
            child = g.values.slice(base, goff[-1] - base)
            vals = child.to_numpy(zero_copy_only=False).astype(np.int64).view(np.uint64)
            lens = goff[1:] - goff[:-1]
            keep = np.nonzero(np.asarray(g.is_valid()) & (lens > 0))[0]
            if len(keep) == 0:
                continue
            # h1 once per gram occurrence; then per seed one 4-byte link.
            # reduceat over EVERY row boundary (empty rows yield garbage
            # slots per reduceat's idx[i] >= idx[i+1] rule, discarded by
            # the keep selection; non-empty rows reduce their own slice
            # regardless of neighbors).
            h1 = np.empty(len(vals), dtype=np.uint64)
            hash_longs(vals, h1)
            # clip: a trailing empty row's start == len(vals), out of
            # reduceat's range; clipped slots belong to empty rows only
            starts_all = np.minimum(
                (goff[:-1] - base).astype(np.intp), len(vals) - 1
            )
            sig = np.empty((len(keep), n_hashes), dtype=np.int64)
            hs = np.empty(len(vals), dtype=np.uint64)
            for s in range(n_hashes):
                for st in range(0, len(h1), _CHUNK):
                    _hash_int_chain_chunk(s, h1[st:st + _CHUNK], hs[st:st + _CHUNK])
                sig[:, s] = np.minimum.reduceat(hs.view(np.int64), starts_all)[keep]
            ids_np = ids.to_numpy(zero_copy_only=False).astype(np.int64)[keep]
            sig_off = np.arange(0, (len(keep) + 1) * n_hashes, n_hashes, dtype=np.int32)
            sarr = pa.ListArray.from_arrays(
                pa.array(sig_off, type=pa.int32()),
                pa.array(sig.ravel(), type=pa.int64()),
            )
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids_np, type=pa.int64()), sarr], ["id", "sig"]
            )

    return fn
