"""Precision / recall / F-score evaluation of dedup output vs golden truth.

Re-expresses the reference's evaluation job
(/root/reference/deduplicaiton/.../processes/EvaluateDeduplication.java:20-137)
-- which collects both datasets to the driver and intersects Java HashSets
(:87-105, set semantics) or list-removes (:109-133, bag semantics) -- as
distributed joins/aggregations. Nothing but the final scalar metrics ever
reaches the driver.

- pair recall:    fraction of truth pairs (a,b) with cluster(a)==cluster(b).
                  This is the BASELINE.json gate: dup-pair recall >= 0.99.
- pair precision: via certified non-pairs (fixtures.truth_nonpairs): fraction
                  of adversarial below-threshold pairs NOT merged.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def java_trim(col: Column) -> Column:
    """Java ``String.trim()`` semantics: strip every leading/trailing char
    with code point <= U+0020 (space, tab, newline, control chars).

    NOT the same as Spark's ``F.trim`` (ASCII space 0x20 only) nor Python's
    ``str.strip()`` (all Unicode whitespace, but keeps control chars like
    \\x0b? no -- strips more: U+00A0 etc. that Java keeps). Pinning to the
    Java contract is what the reference's eval keys require
    (EvaluateDeduplication.java:43-44)."""
    return F.regexp_replace(col, r"^[\x00-\x20]+|[\x00-\x20]+$", "")


def eval_key(name: Column, description: Column) -> Column:
    """The reference's evaluation key (EvaluateDeduplication.java:40-48):
    name with ONE leading punctuation-then-whitespace occurrence stripped
    (replaceFirst "^[,.*%@!\\-_+]\\s") and Java-trimmed, concatenated with
    the raw (untrimmed) description. Both gold and output datasets are
    keyed this way before the set/bag metrics."""
    stripped = F.regexp_replace(name, r"^[,.*%@!\-_+]\s", "")
    return F.concat(java_trim(stripped), description)


def eval_keys_from_lines(lines: DataFrame, col: str = "value") -> DataFrame:
    """Raw 11-field `<...>;<...>` product lines -> (key) rows: the exact
    projection the reference evaluation job applies to each dataset
    (EvaluateDeduplication.java:31-48: drop empty lines, strip all angle
    brackets, split on ';', key on fields 1 and 3). The regexp_replace is
    anchored, so replace-all equals Java's replaceFirst."""
    no_brackets = F.regexp_replace(F.col(col), "<|>", "")
    parts = F.split(no_brackets, ";")
    name = F.coalesce(F.try_element_at(parts, F.lit(2)), F.lit(""))
    desc = F.coalesce(F.try_element_at(parts, F.lit(4)), F.lit(""))
    return (
        lines.where(F.length(F.col(col)) > 0)
        .select(eval_key(name, desc).alias("key"))
    )


def pair_recall(clusters: DataFrame, truth_pairs: DataFrame) -> dict:
    """truth_pairs(a_id,b_id[,kind]) x clusters(file_id,cluster_id) -> metrics.

    A truth pair is detected iff both sides landed in the same cluster.
    Two broadcast-friendly joins; per-kind breakdown included.
    """
    ca = clusters.select(
        F.col("file_id").alias("a_id"), F.col("cluster_id").alias("ca")
    )
    cb = clusters.select(
        F.col("file_id").alias("b_id"), F.col("cluster_id").alias("cb")
    )
    t = truth_pairs
    if "kind" not in t.columns:
        t = t.withColumn("kind", F.lit("all"))
    joined = t.join(ca, "a_id").join(cb, "b_id")
    per_kind = {
        r["kind"]: {"detected": r["det"], "total": r["n"]}
        for r in joined.groupBy("kind")
        .agg(
            F.sum((F.col("ca") == F.col("cb")).cast("long")).alias("det"),
            F.count("*").alias("n"),
        )
        .collect()
    }
    det = sum(v["detected"] for v in per_kind.values())
    tot = sum(v["total"] for v in per_kind.values())
    return {
        "recall": det / tot if tot else 1.0,
        "detected": det,
        "total": tot,
        "per_kind": per_kind,
    }


def nonpair_precision(clusters: DataFrame, truth_nonpairs: DataFrame) -> dict:
    """Fraction of certified non-duplicate pairs correctly kept apart."""
    ca = clusters.select(
        F.col("file_id").alias("a_id"), F.col("cluster_id").alias("ca")
    )
    cb = clusters.select(
        F.col("file_id").alias("b_id"), F.col("cluster_id").alias("cb")
    )
    row = (
        truth_nonpairs.join(ca, "a_id")
        .join(cb, "b_id")
        .agg(
            F.sum((F.col("ca") != F.col("cb")).cast("long")).alias("ok"),
            F.count("*").alias("n"),
        )
        .collect()[0]
    )
    n = row["n"] or 0
    return {"precision": (row["ok"] / n) if n else 1.0, "kept_apart": row["ok"], "total": n}
