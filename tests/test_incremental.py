"""Incremental dedup: batch-vs-index equivalence with the one-shot pipeline."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.fixtures import files_spark_df, make_corpus
from microdeduplication_spark.operators.incremental_dedup import (
    dedup_increment,
    init_index,
    read_clusters,
    recover_swaps,
)
from microdeduplication_spark.pipeline import ALL_PASSES, run_pipeline


def _partition(df) -> set[frozenset]:
    """Canonical cluster partition: ids grouped by cluster, labels ignored."""
    rows = df.collect()
    by_c: dict[int, set[int]] = {}
    for r in rows:
        by_c.setdefault(r.cluster_id, set()).add(r.file_id)
    return {frozenset(v) for v in by_c.values()}


@pytest.fixture(scope="module")
def corpus():
    return make_corpus(n_files=240, seed=13)


@pytest.mark.parametrize(
    "passes", [ALL_PASSES, ("minhash",), ("simhash",), ("substring",)],
    ids=["all", "minhash", "simhash", "substring"],
)
def test_incremental_equals_one_shot(spark, cfg, corpus, tmp_path, passes):
    """init(A) + increment(B) produces the SAME cluster partition as one
    run over A+B, for every pass set -- the central contract: old cluster
    state + new edges is CC-equivalent to all edges, and the batch-vs-index
    candidate joins find every cross pair the self-join would."""
    files = files_spark_df(spark, corpus).withColumn(
        "_r", F.xxhash64("path")
    )
    part_a = files.where(F.col("_r") % 5 != 0).drop("_r")
    part_b = files.where(F.col("_r") % 5 == 0).drop("_r")

    full = run_pipeline(spark, files.drop("_r"), cfg, passes=passes)
    want = _partition(full.clusters)

    idx = str(tmp_path / "idx")
    init_index(spark, part_a, cfg, idx, passes=passes)
    dedup_increment(spark, part_b, cfg, idx, passes=passes)
    got = _partition(read_clusters(spark, idx))
    assert got == want


def test_unknown_or_empty_pass_set_refused(spark, cfg, tmp_path):
    """A misspelled pass name raises instead of silently skipping that
    family, in the one-shot run, at index creation (no manifest written)
    and on an increment; so does an empty pass set."""
    files = spark.createDataFrame(
        [("r", "a.py", "c", "py", "x = 1")],
        "repo string, path string, commit string, lang string, content string",
    )
    idx = str(tmp_path / "idx")
    with pytest.raises(ValueError, match="simhsh"):
        run_pipeline(spark, files, cfg, passes=("minhash", "simhsh"))
    with pytest.raises(ValueError, match="at least one pass"):
        run_pipeline(spark, files, cfg, passes=())
    with pytest.raises(ValueError, match="simhsh"):
        init_index(spark, files, cfg, idx, passes=("minhash", "simhsh"))
    assert not os.path.exists(os.path.join(idx, "manifest.json"))
    with pytest.raises(ValueError, match="simhsh"):
        dedup_increment(spark, files, cfg, idx, passes=("simhsh",))


def test_rep_features_equal_pipeline_projection(spark, cfg, corpus):
    """The increment path's features (_rep_features: one shingles_sigs
    pass over the reps) equal the features init_index projects from the
    pipeline's own stages, row for row, for the same representatives."""
    from microdeduplication_spark.operators import exact_dedup
    from microdeduplication_spark.operators.incremental_dedup import (
        _features_from_result,
        _rep_features,
    )

    res = run_pipeline(spark, files_spark_df(spark, corpus), cfg)
    reps = exact_dedup.representatives(
        res.normalized, exact_dedup.exact_groups(res.normalized))
    cols = ["file_id", "shingles", "sig", "sim", "fps"]

    def rows(df):
        return {r["file_id"]: r for r in df.select(*cols).collect()}

    want = rows(_features_from_result(res, cfg, ALL_PASSES))
    got = rows(_rep_features(reps, cfg, ALL_PASSES))
    assert len(want) > 100
    assert got == want


def test_known_content_attaches_without_new_rep(spark, cfg, corpus, tmp_path):
    """A batch file byte-identical to indexed content joins that cluster by
    the sha join alone: no signature computed, no reps row appended."""
    files = files_spark_df(spark, corpus)
    idx = str(tmp_path / "idx")
    init_index(spark, files, cfg, idx)
    n_reps_before = spark.read.parquet(os.path.join(idx, "reps")).count()

    some = files.limit(1).collect()[0]
    dup = spark.createDataFrame(
        [("newrepo", "new/path.py", "c0ffee", some.lang, some.content)],
        "repo string, path string, commit string, lang string, content string",
    )
    got = dedup_increment(spark, dup, cfg, idx)
    n_reps_after = spark.read.parquet(os.path.join(idx, "reps")).count()
    assert n_reps_after == n_reps_before

    old_cluster = (
        read_clusters(spark, idx)
        .join(
            files.where(F.col("path") == some.path).select(
                F.xxhash64("repo", "path", "commit").alias("file_id")
            ),
            "file_id",
        )
        .collect()[0]
        .cluster_id
    )
    assert got.collect()[0].cluster_id == old_cluster


def test_bridge_file_merges_old_clusters_via_remap(spark, cfg, tmp_path):
    """A batch file containing two unrelated indexed files verbatim merges
    their clusters; the merge lands in remap/, not a members rewrite."""
    lines_x = "\n".join(f"alpha line {i} uniqX" for i in range(40))
    lines_y = "\n".join(f"beta line {i} uniqY" for i in range(40))
    rows = [
        ("r", "x1.py", "c", "py", lines_x),
        ("r", "x2.py", "c", "py", lines_x),
        ("r", "y1.py", "c", "py", lines_y),
        ("r", "y2.py", "c", "py", lines_y),
    ]
    schema = "repo string, path string, commit string, lang string, content string"
    idx = str(tmp_path / "idx")
    init_index(spark, spark.createDataFrame(rows, schema), cfg, idx)
    assert len(_partition(read_clusters(spark, idx))) == 2

    bridge = spark.createDataFrame(
        [("r", "z.py", "c", "py", lines_x + "\n" + lines_y)], schema
    )
    dedup_increment(spark, bridge, cfg, idx)
    parts = _partition(read_clusters(spark, idx))
    assert len(parts) == 1 and len(next(iter(parts))) == 5
    assert spark.read.parquet(os.path.join(idx, "remap")).count() >= 1


def test_increment_is_idempotent(spark, cfg, corpus, tmp_path):
    """Re-running the same increment (crash/retry) changes nothing."""
    # deterministic hash split -- limit() on an unordered frame may pick
    # different rows per evaluation, making the "retry" a different batch
    files = files_spark_df(spark, corpus).withColumn("_r", F.xxhash64("path"))
    part_a = files.where(F.col("_r") % 3 != 0).drop("_r")
    part_b = files.where(F.col("_r") % 3 == 0).drop("_r")
    idx = str(tmp_path / "idx")
    init_index(spark, part_a, cfg, idx)
    dedup_increment(spark, part_b, cfg, idx)
    before = _partition(read_clusters(spark, idx))
    n_members = spark.read.parquet(os.path.join(idx, "members")).count()

    dedup_increment(spark, part_b, cfg, idx)  # retry
    assert _partition(read_clusters(spark, idx)) == before
    assert spark.read.parquet(os.path.join(idx, "members")).count() == n_members


def test_cfg_mismatch_refused(spark, cfg, corpus, tmp_path):
    files = files_spark_df(spark, corpus).limit(20)
    idx = str(tmp_path / "idx")
    init_index(spark, files, cfg, idx)
    other = DedupConfig(jaccard_threshold=0.9)
    with pytest.raises(ValueError, match="cfg_hash"):
        dedup_increment(spark, files, other, idx)


def test_checkpoint_folds_remap_and_preserves_partition(spark, cfg, tmp_path):
    """checkpoint_index folds the merge log into members, coalesces both row
    tables to n_partitions files, and changes NOTHING observable; increments
    keep working afterwards."""
    from microdeduplication_spark.operators.incremental_dedup import (
        checkpoint_index,
    )

    lines_x = "\n".join(f"alpha line {i} uniqX" for i in range(40))
    lines_y = "\n".join(f"beta line {i} uniqY" for i in range(40))
    schema = "repo string, path string, commit string, lang string, content string"
    idx = str(tmp_path / "idx")
    init_index(spark, spark.createDataFrame(
        [("r", "x1.py", "c", "py", lines_x), ("r", "x2.py", "c", "py", lines_x),
         ("r", "y1.py", "c", "py", lines_y), ("r", "y2.py", "c", "py", lines_y)],
        schema), cfg, idx)
    dedup_increment(spark, spark.createDataFrame(
        [("r", "z.py", "c", "py", lines_x + "\n" + lines_y)], schema), cfg, idx)
    before = _partition(read_clusters(spark, idx))
    assert spark.read.parquet(os.path.join(idx, "remap")).count() >= 1

    checkpoint_index(spark, idx, n_partitions=2)
    assert _partition(read_clusters(spark, idx)) == before
    assert spark.read.parquet(os.path.join(idx, "remap")).count() == 0
    import glob as _g
    assert len(_g.glob(os.path.join(idx, "members", "*.parquet"))) == 2
    assert len(_g.glob(os.path.join(idx, "reps", "*.parquet"))) == 2

    # checkpoint is idempotent and the index still accepts increments
    checkpoint_index(spark, idx, n_partitions=2)
    assert _partition(read_clusters(spark, idx)) == before
    dedup_increment(spark, spark.createDataFrame(
        [("r", "w.py", "c", "py", lines_x)], schema), cfg, idx)
    parts = _partition(read_clusters(spark, idx))
    assert len(parts) == 1 and len(next(iter(parts))) == 6


def test_checkpoint_crash_windows_recover(spark, cfg, corpus, tmp_path):
    """Every crash window of the 4-step table swap (swap_dir, shared with
    the streaming sink's compaction) converges to a correct index through
    recover_swaps, which every index read runs first."""
    import shutil as _sh

    from microdeduplication_spark.operators.incremental_dedup import (
        checkpoint_index,
    )

    files = files_spark_df(spark, corpus).limit(60)
    idx = str(tmp_path / "idx")
    init_index(spark, files, cfg, idx)
    checkpoint_index(spark, idx, n_partitions=2)
    want = _partition(read_clusters(spark, idx))
    live = os.path.join(idx, "members")

    pattern = os.path.join(idx, "*")

    # crash before step 2: stale tmp beside live -> dropped
    _sh.copytree(live, live + ".compact_tmp")
    recover_swaps(pattern)
    assert _partition(read_clusters(spark, idx)) == want
    assert not os.path.exists(live + ".compact_tmp")

    # crash between steps 2 and 3, tmp complete (_SUCCESS) -> forward
    os.rename(live, live + ".compact_old")
    _sh.copytree(live + ".compact_old", live + ".compact_tmp")
    assert os.path.exists(os.path.join(live + ".compact_tmp", "_SUCCESS"))
    recover_swaps(pattern)
    assert _partition(read_clusters(spark, idx)) == want
    assert os.path.exists(live) and not os.path.exists(live + ".compact_old")
    assert not os.path.exists(live + ".compact_tmp")

    # crash between steps 2 and 3, tmp write unfinished (no _SUCCESS) ->
    # rolled back to the old data, partial tmp dropped
    os.rename(live, live + ".compact_old")
    _sh.copytree(live + ".compact_old", live + ".compact_tmp")
    os.remove(os.path.join(live + ".compact_tmp", "_SUCCESS"))
    recover_swaps(pattern)
    assert _partition(read_clusters(spark, idx)) == want
    assert os.path.exists(os.path.join(live, "_SUCCESS"))
    assert not os.path.exists(live + ".compact_old")
    assert not os.path.exists(live + ".compact_tmp")

    # crash after step 3 (old not yet deleted) -> old dropped
    _sh.copytree(live, live + ".compact_old")
    recover_swaps(pattern)
    assert _partition(read_clusters(spark, idx)) == want
    assert not os.path.exists(live + ".compact_old")

    # tmp lost mid-write (only old remains) -> rolled back, here by the
    # recovery read_clusters runs itself
    os.rename(live, live + ".compact_old")
    assert _partition(read_clusters(spark, idx)) == want
    assert os.path.exists(live) and not os.path.exists(live + ".compact_old")


def test_increment_crash_before_members_append_retries_clean(
    spark, cfg, corpus, tmp_path, monkeypatch
):
    """Crash AFTER the reps/remap appends but BEFORE the members append
    (the marker table, written last): the retry must converge to exactly
    the clean result -- same partition, no duplicate reps rows."""
    from microdeduplication_spark.operators import incremental_dedup as inc

    files = files_spark_df(spark, corpus).withColumn("_r", F.xxhash64("path"))
    part_a = files.where(F.col("_r") % 5 != 0).drop("_r")
    part_b = files.where(F.col("_r") % 5 == 0).drop("_r")
    idx = str(tmp_path / "idx")
    init_index(spark, part_a, cfg, idx)

    real = inc._table_path

    def crash_on_members(index_dir, table):
        if table == "members":
            raise RuntimeError("injected crash before members append")
        return real(index_dir, table)

    monkeypatch.setattr(inc, "_table_path", crash_on_members)
    with pytest.raises(RuntimeError, match="injected crash"):
        dedup_increment(spark, part_b, cfg, idx)
    monkeypatch.setattr(inc, "_table_path", real)

    # retry converges
    dedup_increment(spark, part_b, cfg, idx)
    got = _partition(read_clusters(spark, idx))
    want = _partition(run_pipeline(spark, files.drop("_r"), cfg).clusters)
    assert got == want
    reps = spark.read.parquet(os.path.join(idx, "reps"))
    assert reps.count() == reps.select("file_id").distinct().count()
