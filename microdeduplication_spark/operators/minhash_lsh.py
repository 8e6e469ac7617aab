"""MinHash-LSH candidate generation (build-plan step 3, SURVEY.md §7).

Replaces the reference's Sorted-Neighborhood blocking -- blocking-key
projection + global sort + sliding window
(/root/reference/deduplicaiton/.../processes/Deduplication.java:64-125) --
with banded LSH: 128-perm MinHash signatures are split into b bands of r rows,
each band hashed to a bucket key, and candidate pairs are the within-bucket
pairs. Detection probability at Jaccard s is 1-(1-s^r)^b (0.9998 at s=0.7
with b=32, r=4), versus SNM's window-bounded recall.

Scale notes (10^12 files, north_rule skew clause):
- the band table is 32 rows per file but only (file_id, band_idx, band_hash):
  24 bytes of payload, no content strings.
- within-bucket pairs come from ONE hash exchange, not a self-join: bucket
  sizes via a count window on the bucket key, member lists collected in
  place on the preserved partitioning, pairs expanded map-side with JVM
  higher-order functions (see banded_self_join).
- hot buckets: buckets over `bucket_drop` are degenerate (near-empty
  shingle sets, boilerplate) and dropped ROW-WISE before any member list
  is built (an adversarial all-identical corpus cannot OOM an aggregation
  buffer), with the drop reported by hot_bucket_stats; buckets over
  `bucket_cap` are *star-paired* (every member paired with the bucket
  minimum) instead of all-pairs-paired, turning a C(n,2) blowup into n-1
  pairs while preserving bucket connectivity -- members of an LSH bucket
  share a full band signature, so rep-to-member verification almost surely
  reaches the same verdict as all-pairs. Elided member<->member pairs are
  a reported metric; pair-level consumers use exact_hot=True (salted
  all-pairs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig


def lsh_bands(sigs: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(file_id, band_idx, band_hash): xxhash64 over each r-row slice of sig.

    Band hashing stays JVM-side: xxhash64 accepts array arguments, and the
    band index is salted into the hash so identical slices in different bands
    cannot collide into one bucket.
    """
    r = cfg.rows_per_band
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(cfg.lsh_bands - 1)),
        lambda j: F.xxhash64(j, F.slice(F.col("sig"), j * F.lit(r) + F.lit(1), r)),
    )
    return sigs.select(
        "file_id", F.posexplode(band_arr).alias("band_idx", "band_hash")
    )


def candidate_pairs(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """LSH self-join -> distinct (a_id, b_id) with a_id < b_id.

    Returns (a_id, b_id, method='minhash'). Also usable for any
    (file_id, band_idx, band_hash)-shaped blocking table (SimHash reuses it).
    """
    return banded_self_join(bands, cfg, method="minhash")


def hot_bucket_stats(bands: DataFrame, cfg: DedupConfig) -> DataFrame:
    """One-row skew report for a band table: buckets star-paired by
    banded_self_join (with the member<->member pairs that star pairing
    elides -- C(n,2)-(n-1) per bucket) and degenerate buckets dropped
    outright. Surfaces the pair-level semantics change of the hot-bucket
    path as a metric instead of leaving it silent; pair-level consumers
    that need all pairs use exact_hot=True."""
    sizes = bands.groupBy("band_idx", "band_hash").agg(
        F.count("*").alias("n")
    )
    hot = (F.col("n") > cfg.bucket_cap) & (F.col("n") <= cfg.bucket_drop)
    dropped = F.col("n") > cfg.bucket_drop
    elided = F.when(
        hot,
        (F.col("n") * (F.col("n") - 1) / 2 - (F.col("n") - 1)).cast("long"),
    ).otherwise(F.lit(0))
    zero = F.lit(0).cast("long")
    return sizes.agg(
        F.coalesce(F.sum(hot.cast("long")), zero).alias("hot_buckets"),
        F.coalesce(F.sum(elided), zero).alias("pairs_elided"),
        F.coalesce(F.sum(dropped.cast("long")), zero).alias("dropped_buckets"),
        F.coalesce(
            F.sum(F.when(dropped, F.col("n")).otherwise(0)), zero
        ).alias("dropped_rows"),
    )


def banded_self_join(
    bands: DataFrame, cfg: DedupConfig, method: str, exact_hot: bool = False
) -> DataFrame:
    """Within-bucket pairs without a self-join.

    NOTE: do not observe() metrics on `counted` -- it sits upstream of the
    small/big union fork, so the CollectMetrics node would execute twice in
    one query and break the observation listener. Skew metrics come from
    hot_bucket_stats (the pipeline overlaps that tiny job with this stage's
    materialization).

    Plan shape (ONE exchange total, vs 4 for the naive band x band
    self-join -- measured 29s -> ~6s at 8M band rows, 8 cores):

    1. bucket sizes via a count window over the bucket key: one hash
       exchange colocates each bucket; only multi-occupancy,
       non-degenerate rows survive the filter.
    2. the per-bucket member list is collected in place -- the window
       output is already hash-partitioned by the key, so the collect_list
       aggregation needs NO further exchange. List memory is bounded by
       cfg.bucket_drop (degenerate buckets are dropped row-wise BEFORE any
       list is built, so an adversarial all-identical corpus cannot OOM an
       aggregation buffer).
    3. pairs expand MAP-SIDE from each list with JVM higher-order
       functions: all-pairs for small buckets (<= bucket_cap members,
       <= C(cap,2) structs per row), star pairs against the bucket minimum
       for hot buckets (linear; elision reported by hot_bucket_stats).
       The small/hot split is a per-row CASE over the same rows, NOT a
       where/where/union plan fork -- a fork re-executes the whole
       upstream (scan + signature UDF + exchange + window) once per
       branch (measured: the fork doubled the standalone query's work).

    The single consumer also means the band table (often a UDF output)
    streams straight into the exchange -- no persist materialization.
    (exact_hot=True is the exception: the salted-join hot path needs a
    real fork, so the bucket lists are shared via lazy localCheckpoint.)
    """
    from pyspark.sql import Window as W

    key = ["band_idx", "band_hash"]
    counted = bands.withColumn(
        "bucket_n", F.count("*").over(W.partitionBy(*key))
    )
    active = counted.where(
        (F.col("bucket_n") >= 2) & (F.col("bucket_n") <= cfg.bucket_drop)
    )
    grouped = active.groupBy(*key).agg(
        F.array_sort(F.collect_list("file_id")).alias("lst"),
        F.first("bucket_n").alias("bucket_n"),
    )

    def _expand(rows: DataFrame, pairs_col) -> DataFrame:
        return (
            rows.select(F.explode(pairs_col).alias("p"))
            .select(F.col("p.a_id").alias("a_id"), F.col("p.b_id").alias("b_id"))
            # same file twice in one bucket (repeated fingerprint) -> no pair
            .where(F.col("a_id") < F.col("b_id"))
        )

    # all pairs (i < j) of the sorted member list -- small buckets only
    all_pairs = F.flatten(
        F.transform(
            F.col("lst"),
            lambda x, i: F.transform(
                F.slice(F.col("lst"), i + F.lit(2), F.size(F.col("lst"))),
                lambda y: F.struct(x.alias("a_id"), y.alias("b_id")),
            ),
        )
    )
    # star pairing against the bucket min (= head of the sorted list),
    # map-side: n-1 structs per hot bucket, bounded by bucket_drop
    star_pairs = F.transform(
        F.slice(F.col("lst"), 2, F.size(F.col("lst"))),
        lambda y: F.struct(
            F.element_at(F.col("lst"), 1).alias("a_id"), y.alias("b_id")
        ),
    )

    if not exact_hot:
        # ONE consumer of `grouped`: the small/hot split is a per-row CASE
        # (codegen evaluates only the matched branch), not a plan fork -- a
        # where/where/union fork re-executes the whole upstream (scan +
        # signature UDF + exchange + window) once per branch. Measured on
        # the standalone minhash query: 5.4s -> 3.1s warm at sf0.1.
        pairs_col = F.when(
            F.col("bucket_n") <= cfg.bucket_cap, all_pairs
        ).otherwise(star_pairs)
        return (
            _expand(grouped, pairs_col)
            .distinct()  # the same pair can surface from several bands
            .withColumn("method", F.lit(method))
        )

    # exact_hot needs a genuine fork (the hot side becomes a salted join):
    # share the aggregated bucket lists via lazy localCheckpoint so the
    # upstream still computes once.
    grouped = grouped.localCheckpoint(eager=False)
    small = grouped.where(F.col("bucket_n") <= cfg.bucket_cap)
    small_pairs = _expand(small, all_pairs)

    big = grouped.where(F.col("bucket_n") > cfg.bucket_cap)
    # exact mode for pair-level consumers: salted all-pairs. Hot-bucket
    # members are re-exploded to rows, the left side lands in one of
    # ceil(n/cap) salted sub-buckets, the right side is replicated to
    # every salt: each (a,b) pair appears exactly once (in a's
    # sub-bucket) and the shuffle fans out by the salt count instead of
    # emitting C(n,2) structs from a single row. O(n^2) output is
    # inherent to exact all-pairs -- the cost is spread, not removed;
    # the default star mode stays linear.
    big_rows = big.select(
        *key, F.col("bucket_n"), F.explode("lst").alias("file_id")
    )
    n_salts = F.greatest(
        F.ceil(F.col("bucket_n") / cfg.bucket_cap).cast("int"), F.lit(1)
    )
    a_side = big_rows.withColumn(
        "salt", F.pmod(F.xxhash64("file_id"), n_salts).cast("int")
    )
    b_side = big_rows.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), n_salts - 1))
    )
    big_pairs = (
        a_side.alias("a")
        .join(b_side.alias("b"), key + ["salt"])
        .where(F.col("a.file_id") < F.col("b.file_id"))
        .select(
            F.col("a.file_id").alias("a_id"),
            F.col("b.file_id").alias("b_id"),
        )
    )

    return (
        small_pairs.unionByName(big_pairs)
        .distinct()
        .withColumn("method", F.lit(method))
    )
