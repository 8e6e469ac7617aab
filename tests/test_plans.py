"""Physical-plan assertions: pushdown, broadcast, partial agg, codegen.

The 100 TB story depends on plan shape, not just results (SURVEY.md §4):
filters must reach the parquet scan, dim joins must broadcast, aggregations
must have a map-side partial step, and the string pipeline must stay inside
WholeStageCodegen. These tests pin those properties so a regression in plan
shape fails CI even while results stay correct.
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_to_parquet(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.where(F.col("l_shipdate") <= "1995-01-01").select(
        "l_orderkey", "l_quantity"
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0]


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    df = li.select("l_orderkey", "l_quantity")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema  # untouched wide column pruned


def test_dim_join_broadcasts(spark):
    import __spark_entry__ as em

    df = em.q_nation_region_counts(spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_groupby_has_partial_aggregate(spark):
    import __spark_entry__ as em

    df = em.q_pricing_summary(spark, SF_DIR)
    plan = _plan(df)
    # two HashAggregate nodes = partial (map-side) + final
    assert plan.count("HashAggregate") >= 2


def test_candidate_lineage_has_no_nested_loop(spark, cfg):
    """No nested-loop join anywhere in the full normalize -> shingle ->
    signature -> LSH candidate lineage: a cartesian here would be the
    O(n^2) disaster banding exists to avoid. (Round 2 removed the band
    self-join entirely -- pairs expand map-side, pinned by
    test_banded_join_is_map_side_single_exchange -- so the only joins left
    upstream are the exact-dedup equi joins.)"""
    from microdeduplication_spark.functions.hashing import shingles_sigs
    from microdeduplication_spark.operators import exact_dedup, minhash_lsh

    files = spark.createDataFrame(
        [("r", f"f{i}", "c", "py", f"a b c d e f g {i}") for i in range(30)],
        ["repo", "path", "commit", "lang", "content"],
    )
    norm = exact_dedup.ingest_normalize(files, cfg)
    groups = exact_dedup.exact_groups(norm)
    reps = exact_dedup.representatives(norm, groups)
    sigs = shingles_sigs(reps, cfg, ["file_id"], simhash=False)
    cands = minhash_lsh.candidate_pairs(minhash_lsh.lsh_bands(sigs, cfg), cfg)
    plan = _plan(cands)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_normalize_stays_in_codegen(spark, cfg):
    """Normalization + sha256 must be whole-stage-codegen'd JVM expressions,
    not Python: the plan has codegen spans and no Python/Arrow eval nodes."""
    from microdeduplication_spark.operators.exact_dedup import ingest_normalize

    files = spark.createDataFrame(
        [("r", "f", "c", "py", "x = 1")],
        ["repo", "path", "commit", "lang", "content"],
    )
    plan = _plan(ingest_normalize(files, cfg))
    # '*(n)' prefixes mark WholeStageCodegen spans in executedPlan.toString()
    assert "*(1)" in plan
    assert "PythonUDF" not in plan and "ArrowEvalPython" not in plan


def test_minhash_is_arrow_vectorized_not_row_python(spark, cfg):
    """The signature kernel must run as Arrow-vectorized eval, never
    row-Python, and cross the Arrow boundary ONCE for shingles, MinHash
    and SimHash together."""
    from microdeduplication_spark.functions.hashing import shingles_sigs

    df = spark.createDataFrame([(1, "a b c d e f g")], ["file_id", "content_norm"])
    plan = _plan(shingles_sigs(df, cfg, ["file_id"]))
    assert plan.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in plan  # row-at-a-time Python path


def test_banded_join_is_map_side_single_exchange(spark, cfg):
    """banded_self_join (round 2): pairs expand map-side from in-place
    bucket lists -- NO join operator, and at most two hash exchanges
    (the bucket-key window + the final distinct)."""
    from microdeduplication_spark.operators.minhash_lsh import banded_self_join

    bands = spark.createDataFrame(
        [(i, i % 3, i % 5) for i in range(50)],
        "file_id long, band_idx int, band_hash long",
    )
    plan = _plan(banded_self_join(bands, cfg, method="m"))
    assert "Join" not in plan
    # one band-table exchange (the bucket-key window) + the final distinct's
    # exchange per union branch (pair-sized rows, not band-sized)
    assert plan.count("Exchange hashpartitioning") <= 3


def test_bucketed_join_colocates_without_exchange(spark, tmp_path):
    """The 100 TB claim in verify.py -- 'the shingle table would be bucketed
    by file_id so the pair joins co-locate without a shuffle' -- proven at
    plan level: joining two tables bucketed on the key plans NO exchange on
    the streamed sides."""
    a = spark.range(200).selectExpr("id AS file_id", "id * 2 AS x")
    b = spark.range(200).selectExpr("id AS file_id", "id * 3 AS y")
    a.write.bucketBy(4, "file_id").sortBy("file_id").mode("overwrite") \
        .option("path", str(tmp_path / "a")).saveAsTable("bucketed_a")
    b.write.bucketBy(4, "file_id").sortBy("file_id").mode("overwrite") \
        .option("path", str(tmp_path / "b")).saveAsTable("bucketed_b")
    try:
        j = spark.table("bucketed_a").join(spark.table("bucketed_b"), "file_id")
        plan = _plan(j)
        assert "Exchange hashpartitioning" not in plan
        assert j.count() == 200
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_a")
        spark.sql("DROP TABLE IF EXISTS bucketed_b")


def test_training_corpus_rep_stage_ships_ids_only(spark):
    """The exact-dup representative stage of the composed training_corpus
    query must never shuffle full rows (the text payload) through an
    exchange keyed on the content hash (VERDICT r5 "What's wrong #5").
    Pinned shape: sha2 appears only inside an ids-only projection feeding
    the min(doc_id) aggregate + semi-join, and no window function is
    partitioned by a sha-derived key."""
    import __spark_entry__ as em

    df = em.q_training_corpus(spark, SF_DIR)
    opt = _optimized(df)
    win_lines = [
        ln for ln in opt.splitlines() if "windowspecdefinition" in ln
    ]
    assert win_lines, "expected the packing/lead windows in the plan"
    assert all("sha2" not in ln for ln in win_lines), win_lines
    sha_lines = [ln for ln in opt.splitlines() if "sha2(" in ln]
    assert sha_lines, "expected the exact-dup sha projection"
    assert all("Project [doc_id" in ln for ln in sha_lines), sha_lines
