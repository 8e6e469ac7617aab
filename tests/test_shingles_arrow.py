"""Arrow shingling path: semantics equal the pure-Python mirror and the JVM path."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from microdeduplication_spark.functions.hashing import shingles_batch, shingles_sigs
from microdeduplication_spark.functions.text import (
    normalize_py,
    shingle_hashes,
    shingles_py,
    tokens,
)


def test_shingles_batch_counts_match_python_mirror(corpus, cfg):
    texts = [normalize_py(c) for c in corpus.files["content"].head(60)]
    got = shingles_batch(pd.Series(texts), cfg.shingle_k)
    for text, arr in zip(texts, got):
        want = shingles_py(text, cfg.shingle_k)
        assert len(arr) == len(want)
        assert np.all(np.diff(arr) > 0)  # sorted distinct


def test_shingles_batch_edge_cases(cfg):
    got = shingles_batch(pd.Series(["", "one", "a b", None]), cfg.shingle_k)
    assert len(got[0]) == 0
    assert len(got[1]) == 1  # short file -> whole-token-list shingle
    assert len(got[2]) == 1
    assert len(got[3]) == 0


def test_arrow_and_jvm_engines_agree_on_jaccard(spark, cfg, corpus):
    """Same pair Jaccard from both shingle engines (hash values differ)."""
    pdf = corpus.files.head(30)[["fix_id", "content"]]
    df = spark.createDataFrame(pdf)
    from microdeduplication_spark.functions.text import normalize_content

    reps = df.select(
        F.col("fix_id").alias("file_id"),
        F.lit("x").alias("lang"),
        normalize_content(F.col("content")).alias("content_norm"),
    )

    def pair_jacs(sh):
        a = sh.alias("a")
        b = sh.alias("b")
        inter = F.size(F.array_intersect("a.shingles", "b.shingles"))
        union = F.size("a.shingles") + F.size("b.shingles") - inter
        return {
            (r["ai"], r["bi"]): r["j"]
            for r in a.join(b, F.col("a.file_id") < F.col("b.file_id"))
            .select(
                F.col("a.file_id").alias("ai"),
                F.col("b.file_id").alias("bi"),
                (inter / union).alias("j"),
            )
            .collect()
        }

    arrow = pair_jacs(shingles_sigs(reps, cfg, ["file_id"], minhash=False,
                                    simhash=False))
    # JVM reference: pure Catalyst higher-order functions, no Python. Two
    # selects: the tokens materialize as a real column before the shingle
    # transform references them (see shingle_hashes' performance contract)
    jvm = pair_jacs(reps.select(
        "file_id", tokens(F.col("content_norm")).alias("toks")
    ).select(
        "file_id", shingle_hashes(F.col("toks"), cfg.shingle_k).alias("shingles")
    ))
    assert arrow.keys() == jvm.keys()
    for k in arrow:
        assert abs(arrow[k] - jvm[k]) < 1e-12
