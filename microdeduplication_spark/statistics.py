"""Corpus statistics: the reference's `statistics` subcommand, Spark-first.

The reference counts N-quad records per RDF type with reduceByKey + a
sort-descending swap trick and coalesce(1) output
(/root/reference/deduplicaiton/.../processes/RDFStatistics.java:38-128).
Here each statistic is one declarative aggregation (the per-type count with
its swap-sort is sources/text_source.type_statistics), and coalesce(1)
survives only for tiny metric tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def cluster_size_histogram(clusters: DataFrame) -> DataFrame:
    """(cluster_size, n_clusters) -- SURVEY.md A5 (group-size listing)."""
    return (
        clusters.groupBy("cluster_id")
        .agg(F.count("*").alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .orderBy("cluster_size")
    )


def dedup_summary(clusters: DataFrame) -> dict:
    """Scalar corpus summary: files, clusters, duplicates removed, dup ratio."""
    row = clusters.agg(
        F.count("*").alias("files"),
        F.countDistinct("cluster_id").alias("clusters"),
    ).collect()[0]
    files, n_clusters = row["files"], row["clusters"]
    return {
        "files": files,
        "clusters": n_clusters,
        "duplicates": files - n_clusters,
        "dup_ratio": (files - n_clusters) / files if files else 0.0,
    }
