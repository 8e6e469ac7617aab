"""The benchmark's own checks: generators, status-store reader, records.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import itertools
import json
import subprocess
import sys
import threading

import numpy as np
import pytest

import corpus as gen
import procfs
import record

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.functions.text import (
    jaccard_py,
    normalize_py,
    shingles_py,
)


@pytest.mark.parametrize("make", [gen.full_batch, gen.dup_dense])
def test_generator_is_deterministic_in_its_seed(make):
    a, b, c = make(300, seed=5), make(300, seed=5), make(300, seed=6)
    assert a.files.equals(b.files)
    assert (a.truth == b.truth).all()
    assert not a.files.content.equals(c.files.content)
    assert a.files.path.is_unique


def _oracle_partition(contents: list[str], cfg: DedupConfig) -> np.ndarray:
    """Components of the pairs the engine's verifiers accept: shingle
    Jaccard >= jaccard_threshold, or line-set containment >=
    containment_threshold, computed exactly over all pairs."""
    norm = [normalize_py(c) for c in contents]
    sh = [shingles_py(n, cfg.shingle_k) for n in norm]
    lines = [set(n.split("\n")) for n in norm]
    parent = list(range(len(norm)))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, j in itertools.combinations(range(len(norm)), 2):
        contain = len(lines[i] & lines[j]) / min(len(lines[i]), len(lines[j]))
        if contain >= cfg.containment_threshold or \
                jaccard_py(sh[i], sh[j]) >= cfg.jaccard_threshold:
            parent[find(i)] = find(j)
    return np.array([find(i) for i in range(len(norm))])


@pytest.mark.parametrize("make", [
    gen.full_batch,
    lambda n, seed: gen.dup_dense(n, seed, hot_family=30),
])
def test_planted_truth_is_the_verified_partition(make):
    c = make(160, seed=3)
    got = _oracle_partition(c.files.content.tolist(), DedupConfig())
    assert gen.same_partition(got, c.truth)


def test_full_batch_shape():
    c = gen.full_batch(1000, seed=1)
    assert len(set(c.truth)) == 700
    assert np.bincount(c.truth).max() >= 50      # the hot exact cluster


def test_same_partition():
    a = np.array([1, 1, 2, 3])
    assert gen.same_partition(a, np.array([7, 7, 0, 5]))
    assert not gen.same_partition(a, np.array([7, 7, 7, 5]))
    assert not gen.same_partition(a, np.array([7, 8, 0, 5]))
    assert not gen.same_partition(a, a[:3])


def test_tree_cpu_counts_reaped_children():
    before = procfs.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt=time.process_time()\n"
                    "while time.process_time()-t<0.3: pass"], check=True)
    assert procfs.tree_cpu_s() - before >= 0.25
    assert procfs.tree_rss_mb() > 0


def _record(**over):
    rec = {"workload": "full_batch", "seed": 1, "trace": 0, "nproc": 4,
           "n_files": 2000,
           "result": {"correct": True, "attempted": 2, "failed": 0,
                      "metrics": {"op_s": {"value": 9.5, "unit": "s"}}}}
    rec.update(over)
    return rec


@pytest.mark.parametrize("text", [
    "", "null", "[]", "{}", "{not json",
    json.dumps(_record(result=None)),
    json.dumps(_record(result={"metrics": {}})),
    json.dumps(_record(result={"metrics": {"op_s": {"value": "9", "unit": "s"}}})),
    json.dumps({k: v for k, v in _record().items() if k != "nproc"}),
])
def test_malformed_record_raises(text):
    with pytest.raises(ValueError):
        record.load_record(text)


def test_records_compare_only_with_same_core_count():
    a = record.load_record(json.dumps(_record()))
    b = record.load_record(json.dumps(_record(nproc=32)))
    assert record.compare([a], [a])["op_s"] == (9.5, 9.5, 1.0)
    with pytest.raises(ValueError, match="nproc"):
        record.compare([a], [b])


def test_metrics_are_exactly_the_declared_ones():
    declared = [{"name": "op_s", "unit": "s"}, {"name": "x.rows", "unit": "count"}]
    out = record.metrics(declared, {"op_s": 2, "x.rows": 7})
    assert out == {"op_s": {"value": 2.0, "unit": "s"},
                   "x.rows": {"value": 7.0, "unit": "count"}}
    with pytest.raises(ValueError, match="typo"):
        record.metrics(declared, {"op_s": 2, "x.rows": 7, "typo": 1})
    with pytest.raises(ValueError, match="x.rows"):
        record.metrics(declared, {"op_s": 2})


def test_status_store_attributes_jobs_to_their_span():
    import spans

    from microdeduplication_spark.session import build_session

    spark = build_session(app_name="perfbench-test", cores=2)
    try:
        tracer = spans.Tracer(spark.sparkContext)
        spark.range(10).count()                       # outside any span
        with tracer.span("outer") as outer:
            with tracer.span("inner") as inner:
                spark.range(200_000).selectExpr("id % 7 AS k") \
                    .groupBy("k").count().collect()
            spark.range(5).count()                    # back in "outer"
        with tracer.span("pooled") as pooled:
            # a job from another thread carries no group
            t = threading.Thread(target=lambda: spark.range(3).count())
            t.start()
            t.join()
        jobs = spans.job_metrics(spark.sparkContext)
        by = {g: spans.total(jobs, lambda j, g=g: j["group"] == g)
              for g in (inner["group"], outer["group"], pooled["group"], None)}
        assert by[inner["group"]]["jobs"] >= 1
        assert by[inner["group"]]["run_s"] > 0
        assert by[inner["group"]]["shuffle_write_mb"] > 0
        assert by[outer["group"]]["jobs"] >= 1
        assert by[None]["jobs"] >= 1
        assert by[pooled["group"]]["jobs"] == 0
        assert spans.total(jobs, spans.in_span(pooled))["jobs"] >= 1
        assert spans.total(jobs, spans.in_span(inner))["jobs"] == \
            by[inner["group"]]["jobs"]
        assert inner["parent"] == outer["group"]
        assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    finally:
        spark.stop()
