"""End-to-end pipeline: recall gate, precision, exact-dedup semantics, resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from microdeduplication_spark.evaluation import nonpair_precision, pair_recall
from microdeduplication_spark.fixtures import files_spark_df, fix_to_file_id
from microdeduplication_spark.pipeline import run_pipeline
from microdeduplication_spark.statistics import cluster_size_histogram, dedup_summary


@pytest.fixture(scope="module")
def files_df(spark, corpus):
    return files_spark_df(spark, corpus).cache()


@pytest.fixture(scope="module")
def result(spark, files_df, cfg):
    res = run_pipeline(spark, files_df, cfg)
    res.clusters = res.clusters.cache()
    return res


def _translate(spark, corpus, pairs_pdf, a="a_fix", b="b_fix"):
    """fix-id truth pairs -> file-id truth pairs via the engine's id function."""
    m = fix_to_file_id(spark, corpus)
    t = spark.createDataFrame(pairs_pdf)
    ma = m.select(F.col("fix_id").alias(a), F.col("file_id").alias("a_raw"))
    mb = m.select(F.col("fix_id").alias(b), F.col("file_id").alias("b_raw"))
    cols = [
        F.least("a_raw", "b_raw").alias("a_id"),
        F.greatest("a_raw", "b_raw").alias("b_id"),
    ]
    if "kind" in pairs_pdf.columns:
        cols.append(F.col("kind"))
    return t.join(ma, a).join(mb, b).select(*cols)


def test_dup_pair_recall_gate(spark, corpus, result):
    """THE correctness gate (BASELINE.json): dup-pair recall >= 0.99."""
    truth = _translate(spark, corpus, corpus.truth_pairs)
    m = pair_recall(result.clusters, truth)
    assert m["recall"] >= 0.99, m


def test_adversarial_nonpairs_kept_apart(spark, corpus, result):
    truth = _translate(spark, corpus, corpus.truth_nonpairs)
    truth = truth.select("a_id", "b_id")
    m = nonpair_precision(result.clusters, truth)
    assert m["precision"] == 1.0, m


def test_exact_duplicates_share_cluster(spark, files_df, result):
    """Files with byte-identical content always land in one cluster."""
    ids = files_df.select(
        F.xxhash64("repo", "path", "commit").alias("file_id"),
        F.sha2(F.col("content").cast("binary"), 256).alias("sha"),
    )
    n_bad = (
        ids.join(result.clusters, "file_id")
        .groupBy("sha")
        .agg(F.countDistinct("cluster_id").alias("k"))
        .where(F.col("k") > 1)
        .count()
    )
    assert n_bad == 0


def test_cluster_id_is_component_min(result):
    """Representative selection: cluster_id = min(file_id) of the cluster
    (the reference keeps the first record of each duplicate group,
    Util.java:84-99)."""
    bad = (
        result.clusters.groupBy("cluster_id")
        .agg(F.min("file_id").alias("mn"))
        .where(F.col("cluster_id") != F.col("mn"))
        .count()
    )
    assert bad == 0


def test_verified_scores_above_threshold(result, cfg):
    bad = result.verified.where(
        (F.col("method") != "substring") & (F.col("score") < cfg.jaccard_threshold)
    ).count()
    assert bad == 0


def test_statistics(result, corpus):
    s = dedup_summary(result.clusters)
    assert s["files"] == len(corpus.files)
    # planted structure guarantees a sizable number of duplicates
    n_dup_truth = (corpus.truth_clusters["fix_id"] != corpus.truth_clusters["cluster_fix"]).sum()
    assert s["duplicates"] >= n_dup_truth * 0.95
    hist = cluster_size_histogram(result.clusters)
    total = hist.agg(
        F.sum(F.col("cluster_size") * F.col("n_clusters")).alias("t")
    ).collect()[0]["t"]
    assert total == s["files"]


def test_resume_idempotent(spark, corpus, files_df, cfg, tmp_path_factory):
    """north_rule: any stage resumes idempotently from checkpoints."""
    ckdir = str(tmp_path_factory.mktemp("ck"))
    r1 = run_pipeline(spark, files_df, cfg, checkpoint_dir=ckdir)
    c1 = sorted((r["file_id"], r["cluster_id"]) for r in r1.clusters.collect())

    # second run: every stage must come from checkpoint, bit-identical result
    r2 = run_pipeline(spark, files_df, cfg, checkpoint_dir=ckdir)
    assert all(m.get("cached") for m in r2.metrics), r2.metrics
    c2 = sorted((r["file_id"], r["cluster_id"]) for r in r2.clusters.collect())
    assert c1 == c2

    # delete a mid-pipeline stage -> it and downstream recompute, same result
    import shutil, os

    shutil.rmtree(os.path.join(ckdir, "shingles"))
    os.remove(os.path.join(ckdir, "shingles.manifest.json"))
    r3 = run_pipeline(spark, files_df, cfg, checkpoint_dir=ckdir)
    cached = {m["stage"]: m.get("cached") for m in r3.metrics}
    assert cached["normalized"] is True
    assert cached["shingles"] is False
    assert cached["cand_minhash"] is False
    assert cached["cand_simhash"] is False
    c3 = sorted((r["file_id"], r["cluster_id"]) for r in r3.clusters.collect())
    assert c1 == c3


def test_lazy_and_persist_modes_are_gone(spark, files_df, cfg):
    """In-memory runs have one materialization policy: eager_metrics
    accepts only "count" and refuses the removed lazy/persist values."""
    for mode in (False, True, "persist"):
        with pytest.raises(ValueError):
            run_pipeline(spark, files_df, cfg, eager_metrics=mode)
