"""Exact verification of candidate pairs (build-plan step 4).

Replaces the reference's per-pair verification predicates -- Product.equals
(name AND provider-domain AND price,
/root/reference/deduplicaiton/.../models/Product.java:92-112) and
Product.compare's cosine thresholds (Product.java:114-140,
CosineSimilarity.java:28-56) -- with exact set scores over precomputed
sorted distinct hash sets:

    jaccard      J(a,b) = |Sa cap Sb| / (|Sa| + |Sb| - |Sa cap Sb|)
                 over shingle-hash sets (MinHash / SimHash candidates)
    containment  C(a,b) = |La cap Lb| / min(|La|, |Lb|)
                 over line-hash sets (substring candidates)

computed with JVM-side array_intersect: no Python, no recomputation of the
sets per pair (the reference recomputes its tf maps for every window
comparison).

Scale notes: the id->set joins carry the widest payload of the pipeline
(shingle arrays). The set table is first reduced with a semi-join on the
candidate id set -- candidate ids are a tiny fraction of the corpus, so the
wide array table is filtered by a (runtime-broadcast) id list instead of
being hash-exchanged in full; only the reduced table enters the pair joins.
At a 1000-executor scale the set table would additionally be bucketed by
file_id so the residual joins co-locate without a shuffle
(df.write.bucketBy -- documented here, exercised in local mode via AQE).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig


def _verify_pairs(candidates: DataFrame, sets: DataFrame, score: Column,
                  threshold: float) -> DataFrame:
    """(a_id,b_id,method) x (file_id, <set column>) -> (a_id, b_id, method,
    score) for pairs whose `score` (an expression over a_set/b_set) reaches
    `threshold`."""
    # `candidates` has THREE consumers here (both branches of the ids
    # union + the probe side of the pair joins) and its lineage is the
    # whole blocking pipeline when called standalone. Spark does not fuse
    # those consumers: the broadcast-ids job executed the full band
    # pipeline once and the probe side executed it AGAIN (stage-profiled:
    # 2x the banded exchange per action). A lazy localCheckpoint pins the
    # small pair table after its first materialization so the upstream
    # computes once; pair rows are narrow, so the checkpoint is cheap.
    candidates = candidates.localCheckpoint(eager=False)
    ids = (
        candidates.select(F.col("a_id").alias("file_id"))
        .unionByName(candidates.select(F.col("b_id").alias("file_id")))
        .distinct()
    )
    # candidate ids are tiny relative to the corpus: broadcast them so
    # the wide array table is filtered in place, never hash-exchanged
    # localCheckpoint (lazy), not persist: both pair-join sides read
    # `reduced`, so the semi-join subtree must compute once -- but a
    # persist() here would leak a CacheManager entry per call (entries are
    # plan-keyed and never auto-dropped). Checkpoint blocks are plain RDD
    # storage, freed by the ContextCleaner when the DataFrame is GC'd.
    reduced = sets.join(F.broadcast(ids), "file_id", "left_semi") \
        .localCheckpoint(eager=False)
    set_col = sets.columns[1]
    sets_a = reduced.select(
        F.col("file_id").alias("a_id"), F.col(set_col).alias("a_set")
    )
    sets_b = reduced.select(
        F.col("file_id").alias("b_id"), F.col(set_col).alias("b_set")
    )
    return (
        candidates.join(sets_a, "a_id")
        .join(sets_b, "b_id")
        .withColumn("score", score)
        .where(F.col("score") >= F.lit(threshold))
        .select("a_id", "b_id", "method", "score")
    )


def verify_jaccard(
    candidates: DataFrame, shingled: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """(a_id,b_id,method) x (file_id,shingles) -> (a_id, b_id, method,
    score) with jaccard >= threshold. Distinct the candidates on (a_id,b_id)
    first (verify_candidates does) so no pair verifies twice."""
    inter = F.size(F.array_intersect("a_set", "b_set"))
    union = F.size("a_set") + F.size("b_set") - inter
    # only the set column enters the checkpointed semi-join: the caller's
    # table may carry fused signature columns (guide §2.3: project before
    # the exchange/barrier)
    return _verify_pairs(candidates, shingled.select("file_id", "shingles"),
                         F.when(union > 0, inter / union).otherwise(F.lit(0.0)),
                         cfg.jaccard_threshold)


def verify_containment(
    candidates: DataFrame, lined: DataFrame, cfg: DedupConfig
) -> DataFrame:
    """(a_id,b_id,method) x (file_id,line_set) -> (a_id, b_id, method,
    score) with score = |A cap B| / min(|A|, |B|) on distinct line-hash sets
    >= containment_threshold."""
    inter = F.size(F.array_intersect("a_set", "b_set"))
    return _verify_pairs(candidates, lined.select("file_id", "line_set"),
                         inter / F.least(F.size("a_set"), F.size("b_set")),
                         cfg.containment_threshold)


def verify_candidates(candidates: DataFrame, shingled: DataFrame,
                      lined: DataFrame | None,
                      cfg: DedupConfig) -> DataFrame:
    """Union of every blocking family's (a_id, b_id, method) candidates ->
    verified (a_id, b_id, method, score).

    MinHash/SimHash candidates verify by shingle Jaccard, each pair once
    (a pair both families found keeps min(method) as its provenance);
    substring candidates verify by line-set containment against `lined`
    (file_id, line_set), which is None when the substring pass is off."""
    near = (
        candidates.where(F.col("method") != "substring")
        .groupBy("a_id", "b_id")
        .agg(F.min("method").alias("method"))
    )
    verified = verify_jaccard(near, shingled, cfg)
    if lined is not None:
        sub = candidates.where(F.col("method") == "substring").select(
            "a_id", "b_id", "method"
        )
        verified = verified.unionByName(verify_containment(sub, lined, cfg))
    return verified
