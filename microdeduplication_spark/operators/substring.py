"""Cross-file substring-duplicate pass via windowed line-hash fingerprints
(build-plan step 6, SURVEY.md §7).

The reference compares whole records inside a sorted sliding window
(/root/reference/deduplicaiton/.../processes/Deduplication.java:103-125); the
suffix-array heritage survives here at coarse granularity: each file's
normalized lines are hashed, every window of `substr_window` consecutive
line-hashes is fingerprinted (a rolling document fingerprint, cf. Winnowing /
Broder shingling at line granularity), and files sharing a fingerprint are
candidates. A file A embedded verbatim in a larger file B shares every
window of A (>= 1 as long as |A| >= w lines), even when their whole-file
Jaccard is below the near-dup threshold.

Verification (verify.verify_containment) is *containment*, not Jaccard:
|lines(A) cap lines(B)| / min(|lines(A)|, |lines(B)|) >= containment_threshold,
over distinct line sets.

Scale notes: fingerprints are 8-byte hashes, (n_lines - w + 1) per file;
explode -> groupBy uses one shuffle on the fingerprint key; the shared
banded_self_join handles hot fingerprints (boilerplate headers, license
blocks) with the same drop/star-pair policy as LSH buckets. Never
concatenates the corpus (SURVEY.md §7 "hard parts").
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.functions.text import line_hashes
from microdeduplication_spark.operators.minhash_lsh import banded_self_join
# the containment verify lives with the Jaccard one; substring callers keep
# reaching it here
from microdeduplication_spark.operators.verify import verify_containment


def line_hash_sets(reps: DataFrame) -> DataFrame:
    """(file_id, lines array<long> ordered, line_set array<long> distinct)."""
    return reps.select(
        "file_id",
        line_hashes(F.col("content_norm")).alias("lines"),
    ).select(
        "file_id",
        "lines",
        F.array_sort(F.array_distinct("lines")).alias("line_set"),
    )


def window_fingerprints(lined: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(file_id, band_idx=0, band_hash=fingerprint) per winnow-selected window.

    Shaped like an LSH band table so banded_self_join is reusable verbatim.
    Fingerprints computed in the Arrow/numpy path (functions/hashing.py
    window_fp_batch): the Catalyst transform-lambda variant evaluates
    interpreted per window and dominated the whole pipeline's wall time.

    cfg.substr_winnow > 1 winnows the stream before the explode: only the
    min of each run of `substr_winnow` consecutive fingerprints is kept,
    cutting the exploded row count (and the banded join's exchange + window
    sort, the single longest e2e pole at 7.9M rows / 50k files) to
    ~2/(winnow+1) of the full stream. The detection contract weakens from
    "any shared substr_window-line run" to "any shared run of
    substr_window + substr_winnow - 1 lines" (11 at defaults) -- see
    config.substr_winnow. Containment verification is unchanged; the
    DuckDB-exact md5 twin (substring_pairs_md5_family) keeps every window.
    """
    from microdeduplication_spark.functions.hashing import make_window_fp_udf

    fp = make_window_fp_udf(cfg.substr_window, cfg.substr_winnow)
    return fingerprint_bands(lined, fp(F.col("lines")))


def fingerprint_bands(df: DataFrame, fps) -> DataFrame:
    """(file_id, band_hash, band_idx=0): one row per element of `fps`, an
    array<long> fingerprint column of `df` or an expression over it."""
    return df.select(
        "file_id", F.explode(fps).alias("band_hash")
    ).withColumn("band_idx", F.lit(0))


def candidate_pairs(lined: DataFrame, cfg: DedupConfig) -> DataFrame:
    """Files sharing >= 1 window fingerprint -> (a_id, b_id, method='substring')."""
    fps = window_fingerprints(lined, cfg)
    return banded_self_join(fps, cfg, method="substring")


def substring_pairs_md5_family(
    docs: DataFrame, cfg: DedupConfig,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """Substring-duplicate pairs with an md5-32 hash family: the
    DuckDB-reproducible twin of the production xxhash64 path (same trick as
    simhash md5_simhash_signatures / textstats.rolling_fingerprint).

    Granularity is word tokens (the documents fixture is single-line word
    streams, so line windows would degenerate); the production pass uses
    normalized lines, but the machinery under test -- banded_self_join's
    bucket policy over shared window fingerprints and the set-containment
    verify -- is the production code path, unchanged. Window fingerprint =
    ('0x' || substr(md5(space-joined token window), 1, 8))::BIGint; element
    hash for the containment sets = same md5-32 per token.

    Output: (a_id, b_id, score) for containment >= cfg.containment_threshold
    over distinct token-hash sets, among files sharing >= 1 verbatim
    `cfg.substr_window`-token window.

    The banded join runs with exact_hot=True: this twin's contract is the
    COMPLETE pair set (its DuckDB oracle is exact all-pairs), so a window
    fingerprint shared by more than cfg.lsh_bucket_cap files must take the
    salted all-pairs path rather than the production star-pair/drop
    hot-bucket policy (which would silently lose candidates vs the oracle
    -- the same reason the simhash md5 twin passes exact_hot=True). The
    production `substring_pairs` pass keeps the capped policy: at corpus
    scale a window shared by thousands of files is boilerplate, and
    star-pairing it preserves cluster connectivity at O(n) not O(n^2).
    """
    md5_32 = lambda c: F.conv(  # noqa: E731
        F.substring(F.md5(c), 1, 8), 16, 10
    ).cast("long")

    w = cfg.substr_window
    lined = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("file_id"),
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0
        ).alias("toks"),
    )
    # tokenization feeds both the fingerprint path and the containment
    # sets -- share one execution instead of re-scanning + re-tokenizing
    lined = lined.localCheckpoint(eager=False)
    n = F.size(F.col("toks"))
    # ONE exchange for the whole blocking path: hash-repartition by
    # band_hash, which (subset-clustering rule) satisfies the distinct's
    # (file_id, band_hash) grouping AND the banded join's window/groupBy
    # on (band_idx, band_hash) -- without it the distinct and the bucket
    # window each exchanged the exploded fingerprint table separately
    fps = (
        lined.select(
            "file_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.greatest(n - F.lit(w), F.lit(0))),
                    lambda i: md5_32(
                        F.concat_ws(" ", F.slice(F.col("toks"), i + F.lit(1), w))
                    ),
                )
            ).alias("band_hash"),
        )
        .repartition(F.col("band_hash"))
        .distinct()
        .withColumn("band_idx", F.lit(0))
    )
    cands = banded_self_join(fps, cfg, method="substring", exact_hot=True)
    sets = lined.select(
        "file_id",
        F.array_sort(
            F.array_distinct(F.transform(F.col("toks"), md5_32))
        ).alias("line_set"),
    )
    return verify_containment(cands, sets, cfg).select(
        "a_id", "b_id", F.round("score", 6).alias("score")
    )
