"""MinHash/SimHash: batch impls vs independent per-row oracles + properties."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from microdeduplication_spark.functions.hashing import (
    minhash_batch,
    perm_masks,
    simhash_batch,
    splitmix64,
)

U64 = np.uint64


def _splitmix64_scalar(x: int) -> int:
    """Independent scalar splitmix64 finalizer (Python ints, masked to 64 bits)."""
    M = (1 << 64) - 1
    z = x & M
    z ^= z >> 30
    z = (z * 0xBF58476D1CE4E5B9) & M
    z ^= z >> 27
    z = (z * 0x94D049BB133111EB) & M
    z ^= z >> 31
    return z


def _minhash_row_oracle(shingles: list[int], masks: np.ndarray) -> list[int]:
    """h_i(x) = a_i * splitmix64(x) + b_i mod 2^64; sig_i = min over shingles."""
    M = (1 << 64) - 1
    mixed = [_splitmix64_scalar(s & M) for s in shingles]
    out = []
    for a, b in zip(masks[0].tolist(), masks[1].tolist()):
        best = min(((a * x) + b) & M for x in mixed)
        out.append(best - (1 << 64) if best >= (1 << 63) else best)  # int64 view
    return out


def _simhash_row_oracle(shingles: list[int]) -> int:
    M = (1 << 64) - 1
    mixed = [_splitmix64_scalar((s & M) ^ 0xA076_1D64_78BD_642F) for s in shingles]
    bits = 0
    for j in range(64):
        ones = sum((h >> j) & 1 for h in mixed)
        if 2 * ones > len(mixed):
            bits |= 1 << j
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def test_splitmix64_matches_scalar():
    rng = np.random.default_rng(7)
    xs = rng.integers(0, 1 << 63, size=100, dtype=np.uint64)
    got = splitmix64(xs)
    for x, g in zip(xs.tolist(), got.tolist()):
        assert g == _splitmix64_scalar(x)


def test_minhash_matches_row_oracle():
    rng = np.random.default_rng(3)
    masks = perm_masks(16, seed=42)
    rows = [
        rng.integers(-(1 << 62), 1 << 62, size=int(n), dtype=np.int64)
        for n in rng.integers(1, 50, size=20)
    ]
    rows.append(np.empty(0, dtype=np.int64))  # empty -> sentinel
    got = minhash_batch(pd.Series(rows), masks)
    for arr, sig in zip(rows, got):
        if len(arr) == 0:
            assert all(v == np.iinfo(np.int64).max for v in sig)
        else:
            assert list(sig) == _minhash_row_oracle(arr.tolist(), masks)


def test_minhash_chunking_invariance():
    """Signatures must not depend on how rows group into flat chunks."""
    import microdeduplication_spark.functions.hashing as H

    rng = np.random.default_rng(5)
    masks = perm_masks(8, seed=42)
    rows = [rng.integers(0, 1 << 62, size=200, dtype=np.int64) for _ in range(50)]
    full = minhash_batch(pd.Series(rows), masks)
    old = H._FLAT_CHUNK
    try:
        H._FLAT_CHUNK = 256  # force many tiny chunks, rows split across groups
        small = minhash_batch(pd.Series(rows), masks)
    finally:
        H._FLAT_CHUNK = old
    for a, b in zip(full, small):
        assert list(a) == list(b)


def test_simhash_matches_row_oracle():
    rng = np.random.default_rng(11)
    rows = [
        rng.integers(-(1 << 62), 1 << 62, size=int(n), dtype=np.int64)
        for n in rng.integers(1, 40, size=15)
    ]
    rows.append(np.empty(0, dtype=np.int64))
    got = simhash_batch(pd.Series(rows))
    for arr, sim in zip(rows, got):
        if len(arr) == 0:
            assert sim == 0
        else:
            assert int(sim) == _simhash_row_oracle(arr.tolist())


def test_minhash_estimates_jaccard():
    """Property: signature agreement ~= exact Jaccard (binomial CI)."""
    rng = np.random.default_rng(13)
    masks = perm_masks(256, seed=42)
    base = rng.integers(0, 1 << 62, size=1000, dtype=np.int64)
    for overlap in (0.9, 0.7, 0.5, 0.2):
        keep = int(1000 * overlap)
        other = np.concatenate(
            [base[:keep], rng.integers(0, 1 << 62, size=1000 - keep, dtype=np.int64)]
        )
        exact = len(np.intersect1d(base, other)) / len(np.union1d(base, other))
        sigs = minhash_batch(pd.Series([base, other]), masks)
        est = float(np.mean(np.asarray(sigs[0]) == np.asarray(sigs[1])))
        assert est == pytest.approx(exact, abs=0.09)


def test_simhash_hamming_tracks_similarity():
    """Near-identical sets -> tiny Hamming distance; disjoint sets -> ~32."""
    rng = np.random.default_rng(17)
    base = rng.integers(0, 1 << 62, size=2000, dtype=np.int64)
    near = base.copy()
    near[:20] = rng.integers(0, 1 << 62, size=20, dtype=np.int64)
    far = rng.integers(0, 1 << 62, size=2000, dtype=np.int64)
    s = simhash_batch(pd.Series([base, near, far]))
    ham_near = bin((int(s[0]) ^ int(s[1])) & ((1 << 64) - 1)).count("1")
    ham_far = bin((int(s[0]) ^ int(s[2])) & ((1 << 64) - 1)).count("1")
    assert ham_near <= 6
    assert 16 <= ham_far <= 48


def test_spark_udfs_agree_with_batch(spark, cfg):
    """The single Arrow kernel (shingles_sigs -> make_shingles_sigs_udf)
    gives the same shingles, MinHash and SimHash values as the numpy
    reference shingles_batch -> minhash_batch / simhash_batch, for every
    family selection the callers use."""
    from microdeduplication_spark.functions.hashing import (
        shingles_batch,
        shingles_sigs,
    )

    rng = np.random.default_rng(19)
    vocab = [f"w{i}" for i in range(40)]
    texts = [" ".join(rng.choice(vocab, size=int(n)))
             for n in rng.integers(0, 60, size=25)] + ["", "one two"]
    df = spark.createDataFrame(
        list(enumerate(texts)), "file_id long, content_norm string"
    )
    sh = shingles_batch(pd.Series(texts), cfg.shingle_k)
    want_sigs = minhash_batch(sh, perm_masks(cfg.num_perms, cfg.seed))
    want_sims = simhash_batch(sh, cfg.simhash_bits)

    got = {r["file_id"]: r for r in shingles_sigs(df, cfg, ["file_id"]).collect()}
    for i in range(len(texts)):
        assert list(got[i]["shingles"]) == list(sh[i])
        assert list(got[i]["sig"]) == list(want_sigs[i])
        assert got[i]["sim"] == int(want_sims[i])

    only_sh = shingles_sigs(df, cfg, ["file_id"], minhash=False, simhash=False)
    assert only_sh.columns == ["file_id", "shingles"]
    for r in only_sh.collect():
        assert list(r["shingles"]) == list(sh[r["file_id"]])

    only_sim = shingles_sigs(df, cfg, ["file_id"], minhash=False,
                             emit_shingles=False)
    assert only_sim.columns == ["file_id", "sim"]
    for r in only_sim.collect():
        assert r["sim"] == int(want_sims[r["file_id"]])


def test_simhash_block_combo_guarantee(spark):
    """Combination probing (tables=8, combo=4) must bucket every pair within
    the pigeonhole guarantee h <= tables - combo = 4, and the config must
    reject thresholds beyond the guarantee."""
    import pytest

    from microdeduplication_spark.config import DedupConfig
    from microdeduplication_spark.operators.simhash import candidate_pairs

    cfg = DedupConfig(simhash_tables=8, simhash_block_combo=4,
                      hamming_threshold=4)
    rng = np.random.default_rng(5)
    base = int(rng.integers(0, 2**63))
    rows, truth = [(0, base)], set()
    vid = 1
    for h in range(1, 5):  # plant pairs at every distance 1..4 vs vid 0
        flipped = base
        for b in rng.choice(64, size=h, replace=False):
            flipped ^= 1 << int(b)
        rows.append((vid, flipped))
        truth.add((0, vid))
        vid += 1
    # far vector: flip 40 bits spread over all blocks -> must NOT pair
    far = base
    for b in range(0, 60, 2):
        far ^= 1 << b
    rows.append((vid, far))
    sims = spark.createDataFrame(rows, "file_id long, sim long")
    got = {
        (r["a_id"], r["b_id"])
        for r in candidate_pairs(sims, cfg).collect()
    }
    assert truth <= got
    assert not any(vid in p for p in got)

    with pytest.raises(ValueError):
        DedupConfig(simhash_tables=8, simhash_block_combo=4,
                    hamming_threshold=5)


def test_md5_simhash_matches_hashlib_oracle(spark):
    """md5-family SimHash (the DuckDB-checkable twin) vs a pure-Python
    transcription: first 8 md5 hex digits per distinct token, bit-majority
    with ties -> 0."""
    import hashlib

    from microdeduplication_spark.operators.simhash import (
        md5_simhash_signatures,
    )

    docs = [
        (1, ["alpha", "beta", "gamma"]),
        (2, ["alpha", "beta", "gamma", "beta"]),   # dup token: distinct first
        (3, ["x"]),
        (4, []),                                   # token-less: dropped
        (5, ["alpha", "zeta"]),
    ]
    df = spark.createDataFrame(docs, "doc_id long, toks array<string>")
    got = {
        r["file_id"]: r["sim"]
        for r in md5_simhash_signatures(df, "doc_id", "toks").collect()
    }

    def oracle(toks):
        hs = [
            int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            for t in dict.fromkeys(toks)
        ]
        sig = 0
        for j in range(32):
            if 2 * sum((h >> j) & 1 for h in hs) > len(hs):
                sig |= 1 << j
        return sig

    want = {i: oracle(t) for i, t in docs if t}
    assert got == want


def test_window_fp_winnowing_guarantee_and_density():
    """Winnowing (SWA'03): shared run of w+winnow-1 lines ALWAYS shares a
    selected fingerprint; density ~2/(winnow+1); winnowed set is a subset
    of the full fingerprint set; short/empty rows keep the n<w rule."""
    from microdeduplication_spark.functions.hashing import window_fp_batch

    rng = np.random.default_rng(7)
    w, winnow = 8, 4
    for _ in range(100):
        shared = rng.integers(-(2**62), 2**62, w + winnow - 1)
        a = np.concatenate(
            [rng.integers(-(2**62), 2**62, rng.integers(0, 40)), shared,
             rng.integers(-(2**62), 2**62, rng.integers(0, 40))]
        )
        b = np.concatenate(
            [rng.integers(-(2**62), 2**62, rng.integers(0, 40)), shared,
             rng.integers(-(2**62), 2**62, rng.integers(0, 40))]
        )
        fa, fb = window_fp_batch(pd.Series([a, b]), w, winnow)
        assert np.intersect1d(fa, fb).size > 0

    lines = pd.Series([rng.integers(-(2**62), 2**62, 150) for _ in range(100)])
    full = window_fp_batch(lines, w, 1)
    sel = window_fp_batch(lines, w, winnow)
    n_full = sum(len(x) for x in full)
    n_sel = sum(len(x) for x in sel)
    assert 0.25 < n_sel / n_full < 0.55  # ~2/(winnow+1) = 0.4
    for f, s in zip(full, sel):
        assert np.setdiff1d(s, f).size == 0  # selection, not new values

    short = window_fp_batch(
        pd.Series([np.array([], dtype=np.int64), np.arange(3), np.arange(8)]),
        w, winnow,
    )
    assert [len(x) for x in short] == [0, 1, 1]
