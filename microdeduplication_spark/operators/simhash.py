"""SimHash Hamming-probing candidate generation (build-plan step 5).

Replaces the reference's cosine-similarity fuzzy comparator
(/root/reference/deduplicaiton/.../utils/CosineSimilarity.java:28-56, driven
from Product.compare, models/Product.java:114-140) with a 64-bit SimHash per
file and rotation-bucket probing (Manku/Jain/Das Sarma, "Detecting
Near-Duplicates for Web Crawling", WWW'07 -- public literature).

Bucketing guarantee: the 64-bit signature is rotated t=4 times by 16 bits;
the bucket key of rotation j is the top 16 bits of the rotated value (i.e.
bit-block j of the original). Two signatures at Hamming distance <= 3 differ
in at most 3 of the 4 blocks, so by pigeonhole they agree on at least one
block => they share at least one bucket. Candidates are then filtered to
bit_count(a XOR b) <= hamming_threshold, JVM-side.

Scale notes: at 10^12 files, single 16-bit blocks are too coarse
(10^12/2^16 rows per bucket). The probe keys therefore generalize to
CONCATENATIONS of `simhash_block_combo` distinct blocks over all
C(tables, combo) combinations (Manku §3's block-permutation tables,
expressed as combinations): at Hamming distance h at most h blocks differ,
so a fully-clean combo exists whenever h <= tables - combo, and the pair
shares that bucket. The 10^12 preset is tables=8/combo=4: 70 probes per
file with 32-bit keys (~230 rows per bucket at 10^12 -- under bucket_cap),
guaranteeing h <= 4; the default stays tables=4/combo=1 (h <= 3). Bucket
cap/star-pairing and drop logic are shared with the LSH join
(minhash_lsh.banded_self_join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.operators.minhash_lsh import banded_self_join


def simhash_bands(sims: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(file_id, band_idx, band_hash): one probe row per block combination.

    band_idx enumerates the C(tables, combo) combinations (driver-side
    itertools -- tens at most); band_hash concatenates the combo's blocks
    (block j shifted into slot position). combo=1 reduces to classic
    per-block probing."""
    from itertools import combinations

    bb = cfg.simhash_band_bits
    mask = (1 << bb) - 1

    def block(j: int):
        # shiftrightunsigned needs a literal bit count -- unrolled driver-side
        return F.shiftrightunsigned(F.col("sim"), j * bb).bitwiseAND(F.lit(mask))

    combos = list(combinations(range(cfg.simhash_tables), cfg.simhash_block_combo))
    keys = []
    for combo in combos:
        key = F.lit(0).cast("long")
        for slot, j in enumerate(combo):
            key = key + F.shiftleft(block(j), slot * bb)
        keys.append(key)
    return sims.select(
        "file_id", F.posexplode(F.array(*keys)).alias("band_idx", "band_hash")
    )


def md5_simhash_signatures(
    df: DataFrame, id_col: str, tokens_col: str, bits: int = 32
) -> DataFrame:
    """(id, token-array) -> (file_id, sim): SimHash whose bit contributions
    come from the first 32 md5 bits of each DISTINCT token instead of the
    seeded splitmix family.

    Test/oracle hash family (production signatures stay the vectorized
    seeded kernel in functions/hashing.py): md5 is reproducible in any
    engine -- DuckDB `('0x' || substr(md5(tok), 1, 8))::BIGINT` -- so the
    parts of the SimHash pass that can actually be wrong (banded block
    probing, the pigeonhole guarantee, the Hamming filter) get a
    SQL-expressible brute-force twin. Majority ties -> 0, matching
    simhash_batch. Token-less rows drop (explode), matching the SQL unnest.
    All JVM-side: md5/conv/bit ops in codegen, one hash-agg per file_id.
    """
    toks = df.select(
        F.col(id_col).alias("file_id"),
        F.explode(F.array_distinct(F.col(tokens_col))).alias("_tok"),
    )
    h = F.conv(F.substring(F.md5(F.col("_tok")), 1, 8), 16, 10).cast("long")
    hashed = toks.select("file_id", h.alias("h"))
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.shiftrightunsigned(F.col("h"), j).bitwiseAND(F.lit(1))).alias(f"b{j}")
        for j in range(bits)
    ]
    g = hashed.groupBy("file_id").agg(*aggs)
    sig = F.lit(0).cast("long")
    for j in range(bits):
        sig = sig + F.when(
            2 * F.col(f"b{j}") > F.col("n"), F.lit(1 << j).cast("long")
        ).otherwise(F.lit(0).cast("long"))
    return g.select("file_id", sig.alias("sim"))


def candidate_pairs(
    sims: DataFrame, cfg: DedupConfig, exact_hot: bool = False
) -> DataFrame:
    """Block-bucket self-join + exact Hamming filter -> (a_id,b_id,method).

    exact_hot=True forces salted all-pairs expansion of over-cap buckets
    (pair-level consumers that need the complete pair set); the default
    star-pairs hot buckets, which preserves connected components."""
    # lazy localCheckpoint: consumed by bands + both rescore join sides --
    # compute-once without leaking a plan-keyed CacheManager entry
    sims = sims.localCheckpoint(eager=False)
    bands = simhash_bands(sims, cfg)
    cands = banded_self_join(bands, cfg, method="simhash", exact_hot=exact_hot)
    return hamming_filter(cands, sims, cfg)


def hamming_filter(cands: DataFrame, sims: DataFrame,
                   cfg: DedupConfig) -> DataFrame:
    """Exact Hamming rescore: the (a_id, b_id, method) candidates whose
    signatures in `sims` (file_id, sim) differ in at most hamming_threshold
    bits. `sims` is read by both join sides, so callers pin it first."""
    a_sim = sims.select(F.col("file_id").alias("a_id"), F.col("sim").alias("a_sim"))
    b_sim = sims.select(F.col("file_id").alias("b_id"), F.col("sim").alias("b_sim"))
    return (
        cands.join(a_sim, "a_id")
        .join(b_sim, "b_id")
        .where(
            F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
            <= F.lit(cfg.hamming_threshold)
        )
        .select("a_id", "b_id", "method")
    )
