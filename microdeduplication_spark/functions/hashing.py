"""Shingles + MinHash + SimHash signatures in one vectorized Arrow pass.

make_shingles_sigs_udf (wrapped for DataFrames by shingles_sigs) is the one
Python entry that computes shingles and both signature families; the
*_batch functions are its numpy kernels and the reference the tests compare
against. The only Python in the pipeline's hot path (BASELINE.json
input_hint allows exactly this: "vectorized pandas/Arrow UDFs, no per-row
Python"). Everything
is flat numpy over the concatenation of a whole Arrow batch's shingle arrays
-- no per-row Python loops -- using np.minimum.reduceat / np.add.reduceat for
the per-row reductions.

Replaces the reference's per-comparison term-frequency cosine similarity
(/root/reference/deduplicaiton/.../utils/CosineSimilarity.java:13-56) with
precomputed signatures: similarity becomes a join problem instead of an
O(window^2) per-pair recomputation.

Hash family: per-permutation 64-bit XOR mask followed by the splitmix64
finalizer (public-domain mixing constants from Steele et al., "Fast
Splittable Pseudorandom Number Generators", also used by java.util.SplittableRandom).
Deterministic across runs/machines: masks derive from numpy PCG64(seed),
all arithmetic is explicit uint64 wraparound.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from microdeduplication_spark.config import DedupConfig

U64 = np.uint64
_EMPTY_SENTINEL = np.iinfo(np.int64).max  # sig rows for empty shingle sets

# chunk the flattened shingle stream so the (perms x chunk) working set stays
# cache-resident (~4 MB at 128 perms): large chunks made the batch
# memory-bandwidth-bound and killed multi-core scaling (measured 33s -> ~5s
# for 17600 files at 32 cores when shrinking 64k -> 4k)
_FLAT_CHUNK = 1 << 12


def perm_masks(num_perms: int, seed: int) -> np.ndarray:
    """(2, num_perms) uint64 multiply-shift coefficients (a odd, b).

    Hash family: h_i(x) = a_i * splitmix64(x) + b_i  (uint64 wraparound).
    splitmix64 runs ONCE per shingle; each permutation is then 2 uint64 ops
    instead of a full finalizer -- 5x less compute per (perm, shingle), and
    the multiply-shift family over a well-mixed input is the standard MinHash
    construction. Deterministic in (num_perms, seed).
    """
    rng = np.random.default_rng(seed)
    a = rng.integers(0, np.iinfo(np.uint64).max, size=num_perms, dtype=np.uint64)
    a |= np.uint64(1)  # odd multipliers are invertible mod 2^64
    b = rng.integers(0, np.iinfo(np.uint64).max, size=num_perms, dtype=np.uint64)
    return np.stack([a, b])


def splitmix64(z: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer over uint64 (wraparound semantics).

    One temp buffer, in-place ops: minimizes memory traffic (the per-batch
    working set must stay cache-resident for multi-core scaling)."""
    z = z.astype(U64, copy=True)
    tmp = np.empty_like(z)
    with np.errstate(over="ignore"):
        np.right_shift(z, U64(30), out=tmp)
        np.bitwise_xor(z, tmp, out=z)
        np.multiply(z, U64(0xBF58476D1CE4E5B9), out=z)
        np.right_shift(z, U64(27), out=tmp)
        np.bitwise_xor(z, tmp, out=z)
        np.multiply(z, U64(0x94D049BB133111EB), out=z)
        np.right_shift(z, U64(31), out=tmp)
        np.bitwise_xor(z, tmp, out=z)
    return z


def _flatten(series: pd.Series) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenate a batch of int64 arrays -> (flat uint64, row lengths, offsets)."""
    arrs = [np.asarray(a, dtype=np.int64) if a is not None else np.empty(0, np.int64)
            for a in series]
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
    flat = (np.concatenate(arrs) if arrs else np.empty(0, np.int64)).view(U64)
    offsets = np.zeros(len(arrs), dtype=np.int64)
    if len(arrs) > 1:
        np.cumsum(lens[:-1], out=offsets[1:])
    return flat, lens, offsets


def minhash_batch(series: pd.Series, masks: np.ndarray) -> pd.Series:
    """MinHash signatures for one Arrow batch of shingle arrays.

    All chunk work happens in two PREALLOCATED (perms x chunk) buffers with
    out= ufuncs: per-chunk fresh allocations (>128 KB) go through mmap/munmap
    and page zeroing, which serializes across worker processes on kernel +
    memory bandwidth and destroys multi-core scaling."""
    flat, lens, offsets = _flatten(series)
    n_rows = len(lens)
    n_perms = masks.shape[1]
    a_co = masks[0][:, None]  # (P, 1)
    b_co = masks[1][:, None]
    sigs = np.full((n_rows, n_perms), _EMPTY_SENTINEL, dtype=np.int64)
    nonempty = lens > 0
    if flat.size:
        mixed = splitmix64(flat)  # one finalizer pass per shingle
        buf = np.empty((n_perms, min(_FLAT_CHUNK, flat.size)), dtype=U64)
        row_ends = offsets + lens
        start_row = 0
        while start_row < n_rows:
            while start_row < n_rows and lens[start_row] == 0:
                start_row += 1
            if start_row >= n_rows:
                break
            end_row = start_row + 1
            while (end_row < n_rows
                   and row_ends[end_row - 1] + lens[end_row] - offsets[start_row] <= _FLAT_CHUNK):
                end_row += 1
            lo, hi = offsets[start_row], row_ends[end_row - 1]
            m = hi - lo
            b = buf[:, :m] if m <= buf.shape[1] else np.empty((n_perms, m), U64)
            with np.errstate(over="ignore"):
                np.multiply(a_co, mixed[None, lo:hi], out=b)
                np.add(b, b_co, out=b)
            seg_rows = np.arange(start_row, end_row)[nonempty[start_row:end_row]]
            seg_offsets = (offsets[seg_rows] - lo).astype(np.intp)
            mins = np.minimum.reduceat(b, seg_offsets, axis=1)  # (P, rows)
            sigs[seg_rows, :] = mins.T.view(np.int64)
            start_row = end_row
    return pd.Series(list(sigs))


def simhash_batch(series: pd.Series, bits: int = 64) -> pd.Series:
    """64-bit SimHash per row: majority vote of each bit over shingle hashes.

    Chunked like minhash_batch: the (chunk, bits) bit matrix must stay
    cache-resident -- an unchunked batch allocates flat x 64 x 8 bytes
    (hundreds of MB) and saturates memory bandwidth across workers."""
    flat, lens, offsets = _flatten(series)
    n_rows = len(lens)
    out = np.zeros(n_rows, dtype=np.int64)
    if not flat.size:
        return pd.Series(out)
    shifts = np.arange(bits, dtype=np.uint64)
    weights = (np.uint64(1) << shifts).view(np.int64)
    row_ends = offsets + lens
    start_row = 0
    while start_row < n_rows:
        while start_row < n_rows and lens[start_row] == 0:
            start_row += 1
        if start_row >= n_rows:
            break
        end_row = start_row + 1
        while (end_row < n_rows
               and row_ends[end_row - 1] + lens[end_row] - offsets[start_row]
               <= _FLAT_CHUNK):
            end_row += 1
        lo, hi = offsets[start_row], row_ends[end_row - 1]
        # re-mix so the simhash family is independent of the minhash family
        mixed = splitmix64(flat[lo:hi] ^ U64(0xA076_1D64_78BD_642F))
        bitmat = ((mixed[:, None] >> shifts[None, :]) & U64(1)).astype(np.int64)
        seg_rows = np.arange(start_row, end_row)[lens[start_row:end_row] > 0]
        seg_offsets = (offsets[seg_rows] - lo).astype(np.intp)
        counts = np.add.reduceat(bitmat, seg_offsets, axis=0)     # (rows, bits)
        majority = (2 * counts) > lens[seg_rows][:, None]         # ties -> 0
        out[seg_rows] = (majority.astype(np.int64) * weights[None, :]).sum(
            axis=1, dtype=np.int64
        )
        start_row = end_row
    return pd.Series(out)


# ---------------------------------------------------------------------------
# Arrow-vectorized shingling (content_norm -> distinct sorted shingle hashes)
# ---------------------------------------------------------------------------
# Token k-shingles hashed as a position-weighted polynomial over per-token
# blake2b hashes: tokenization is C-speed re.findall, the window combine is k
# numpy ops over the whole token stream, and token hashes are memoized per
# batch (source-code vocab repeats heavily). Semantics mirror
# functions/text.py shingles_py exactly (same tokenizer, same short-file
# rule, distinct + sorted); only the 64-bit hash values differ from the JVM
# xxhash64 variant, which is irrelevant to set sizes / Jaccard.

_TOKEN_FINDALL = None  # lazy: compiled regex, per-process
_SHINGLE_COEFFS: dict[int, np.ndarray] = {}


def _token_re():
    global _TOKEN_FINDALL
    if _TOKEN_FINDALL is None:
        import re

        _TOKEN_FINDALL = re.compile(r"[A-Za-z0-9_]+").findall
    return _TOKEN_FINDALL


def _tok_hash(t: str) -> int:
    import hashlib

    return int.from_bytes(
        hashlib.blake2b(t.encode("utf-8"), digest_size=8).digest(), "little"
    )


def _shingle_coeffs(k: int) -> np.ndarray:
    if k not in _SHINGLE_COEFFS:
        rng = np.random.default_rng(0xC0FFEE + k)
        c = rng.integers(0, np.iinfo(np.uint64).max, size=k, dtype=np.uint64)
        c |= U64(1)
        _SHINGLE_COEFFS[k] = c
    return _SHINGLE_COEFFS[k]


def shingles_batch(contents: pd.Series, k: int,
                   short_doc_fallback: bool = True) -> pd.Series:
    """Normalized text -> sorted distinct int64 shingle hashes per row.

    short_doc_fallback: a sub-k-token row hashes its whole token list as
    one shingle (dedup semantics: two identical short files still match).
    False gives the decontamination semantics -- no gram at all, so a
    short doc can never alias an n-gram of a longer one."""
    findall = _token_re()
    coeffs = _shingle_coeffs(k)
    cache: dict[str, int] = {}
    out = []
    with np.errstate(over="ignore"):
        for text in contents:
            toks = findall(text) if text else []
            n = len(toks)
            if n == 0 or (n < k and not short_doc_fallback):
                out.append(np.empty(0, dtype=np.int64))
                continue
            ids = np.fromiter(
                (cache.get(t) or cache.setdefault(t, _tok_hash(t)) for t in toks),
                dtype=U64, count=n,
            )
            if n < k:
                comb = np.zeros(1, dtype=U64)
                for j in range(n):
                    comb += ids[j] * coeffs[j]
            else:
                m = n - k + 1
                comb = np.zeros(m, dtype=U64)
                for j in range(k):
                    comb += ids[j : j + m] * coeffs[j]
            out.append(np.unique(comb.view(np.int64)))
    return pd.Series(out)


def ngram_hash_batch(texts: pd.Series, n: int) -> pd.Series:
    """Raw text -> sorted distinct int64 token n-gram hashes per row:
    shingles_batch WITHOUT the short-doc whole-list fallback (one shared
    uint64 hashing loop, not two hand-synchronized copies). Exists because
    the Catalyst-HOF version of this expression evaluates interpreted
    (measured 25 s for 5k docs at sf0.1 vs ~0.5 s here)."""
    return shingles_batch(texts, n, short_doc_fallback=False)


def make_ngram_udf(n: int):
    """pandas_udf: raw text string -> array<long> token n-gram hashes."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def ngram_udf(text: pd.Series) -> pd.Series:
        return ngram_hash_batch(text, n)

    return ngram_udf


def window_fp_batch(lines: pd.Series, w: int, winnow: int = 1) -> pd.Series:
    """Ordered line-hash arrays -> distinct window fingerprints per row.

    fingerprint(i) = sum_j coeff_j * splitmix64-domain line_hash[i+j]
    (uint64 wraparound polynomial) -- the numpy twin of the substring pass's
    windowing; w numpy ops over the whole line stream per row. Rows shorter
    than w fingerprint the whole array (same rule as the JVM variant).

    winnow > 1 applies winnowing (Schleimer/Wilkerson/Aiken, SIGMOD'03)
    over the fingerprint stream: a sliding MIN of width `winnow` (a
    vectorized sliding_window_view, no Python loop over positions) before
    the distinct. Two files sharing >= w + winnow - 1 consecutive lines
    share a full selection window of identical fingerprints, so they still
    share >= 1 selected value; emitted rows drop to ~2/(winnow+1) of the
    full stream. Unsigned-domain min: the selection compares fingerprints
    as uint64, deterministic across both sides of a pair.
    """
    coeffs = _shingle_coeffs(w + 1)  # +1: distinct family from shingle_k
    out = []
    with np.errstate(over="ignore"):
        for arr in lines:
            a = (np.asarray(arr, dtype=np.int64).view(U64)
                 if arr is not None else np.empty(0, U64))
            n = len(a)
            if n == 0:
                out.append(np.empty(0, dtype=np.int64))
                continue
            if n < w:
                comb = np.zeros(1, dtype=U64)
                for j in range(n):
                    comb += a[j] * coeffs[j % w]
            else:
                m = n - w + 1
                comb = np.zeros(m, dtype=U64)
                for j in range(w):
                    comb += a[j : j + m] * coeffs[j]
            if winnow > 1:
                if len(comb) <= winnow:
                    comb = comb.min(keepdims=True)
                else:
                    comb = np.lib.stride_tricks.sliding_window_view(
                        comb, winnow
                    ).min(axis=1)
            out.append(np.unique(comb.view(np.int64)))
    return pd.Series(out)


def make_window_fp_udf(w: int, winnow: int = 1):
    """pandas_udf: array<long> ordered line hashes -> array<long> window fps
    (winnow > 1: winnowing-selected subset, see window_fp_batch)."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def window_fp_udf(lines: pd.Series) -> pd.Series:
        return window_fp_batch(lines, w, winnow)

    return window_fp_udf


def make_shingles_sigs_udf(k: int, num_perms: int | None, seed: int,
                           simhash_bits: int | None,
                           emit_shingles: bool = True):
    """pandas_udf: content_norm -> struct(shingles?, sig?, sim?) in ONE pass.

    Fuses shingling + MinHash + SimHash: the shingle arrays are born in
    numpy here, so the signature kernels run on them directly instead of
    round-tripping the (wide) shingle column through Arrow out of one UDF
    stage and back into another, and the signature stage stops re-reading
    the cached shingle table. num_perms/simhash_bits None skips that
    family; emit_shingles=False drops the wide shingle column from the
    output entirely (consumers that never verify -- e.g. the standalone
    SimHash query -- pay no shingle transfer)."""
    masks = perm_masks(num_perms, seed) if num_perms else None
    fields = []
    if emit_shingles:
        fields.append(T.StructField("shingles", T.ArrayType(T.LongType())))
    if num_perms:
        fields.append(T.StructField("sig", T.ArrayType(T.LongType())))
    if simhash_bits:
        fields.append(T.StructField("sim", T.LongType()))
    if not fields:
        raise ValueError("fused UDF with no output columns")

    @F.pandas_udf(T.StructType(fields))
    def fused_udf(content_norm: pd.Series) -> pd.DataFrame:
        sh = shingles_batch(content_norm, k)
        cols = {}
        if emit_shingles:
            cols["shingles"] = sh
        if masks is not None:
            cols["sig"] = minhash_batch(sh, masks)
        if simhash_bits:
            cols["sim"] = simhash_batch(sh, simhash_bits)
        return pd.DataFrame(cols)

    return fused_udf


def shingles_sigs(df: DataFrame, cfg: DedupConfig, keep: list[str],
                  minhash: bool = True, simhash: bool = True,
                  emit_shingles: bool = True) -> DataFrame:
    """df(*keep, content_norm) -> (*keep, [shingles], [sig], [sim]) through
    ONE make_shingles_sigs_udf call: every caller that needs shingles or
    signatures crosses the Arrow boundary once, with the same kernels."""
    fused = make_shingles_sigs_udf(
        cfg.shingle_k,
        cfg.num_perms if minhash else None,
        cfg.seed,
        cfg.simhash_bits if simhash else None,
        emit_shingles,
    )
    out = [name for name, on in (("shingles", emit_shingles),
                                 ("sig", minhash), ("sim", simhash)) if on]
    return df.select(
        *keep, fused(F.col("content_norm")).alias("_s")
    ).select(*keep, *[F.col(f"_s.{c}").alias(c) for c in out])
