"""End-to-end dedup pipeline: stage graph + idempotent checkpoints + metrics.

Stage graph (SURVEY.md §3 "new-engine lifecycle"):

    ingest_normalize -> exact_dedup(norm_sha)
        -> shingles (ONE Arrow pass: shingles + MinHash sig + SimHash sim)
        -> [minhash_lsh | simhash | substring]   (on exact representatives)
        -> candidate_union -> verify.verify_candidates (jaccard / containment)
        -> (+ exact star edges) -> connected_components.cluster_labels

Each stage is a pure DataFrame->DataFrame function (operators/*); this module
only composes them, materializes each stage, and records the lineage
manifest (north_rule: "resumable from checkpoint with per-partition lineage
+ metrics"). Signatures come from functions/hashing.shingles_sigs, the one
Python entry for shingles, MinHash and SimHash; the candidate stages read
the signatures as projections of the shingles stage. The daily increment
(operators/incremental_dedup.dedup_increment) runs the same verify, Hamming
filter and cluster labelling functions on its batch-vs-index candidates.

Stage materialization has two policies behind one call, _Checkpointer.run:

- in memory (checkpoint_dir=None): every stage is persisted and counted on
  a thread pool as soon as its input stages have materialized, so
  independent stages run as concurrent Spark jobs;
- parquet (checkpoint_dir set): stage outputs land at <dir>/<stage>/ with a
  sibling <dir>/<stage>.manifest.json carrying {stage, config, input_stages,
  rows, partitions, wall_ms}. On rerun, a stage whose manifest matches the
  current config hash and upstream build ids is read back instead of
  recomputed; deleting any stage directory invalidates it and everything
  downstream recomputes from the last valid prefix -- tested by
  test_pipeline.py::test_resume_idempotent.

Intermediates with several consumers (exact groups, representatives, line
hashes) are persisted under both policies.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.operators import (
    connected_components as cc,
    exact_dedup,
    minhash_lsh,
    simhash as simhash_op,
    substring,
    verify,
)
from microdeduplication_spark.functions.hashing import shingles_sigs

ALL_PASSES = ("minhash", "simhash", "substring")


def check_passes(passes: tuple[str, ...]) -> None:
    """Raise ValueError on an empty pass set or a name outside ALL_PASSES
    (a misspelled pass would otherwise be skipped silently)."""
    unknown = sorted(set(passes) - set(ALL_PASSES))
    if unknown:
        raise ValueError(f"unknown pass(es) {unknown}; passes are {ALL_PASSES}")
    if not passes:
        raise ValueError(f"at least one pass required from {ALL_PASSES}")


@dataclass
class PipelineResult:
    clusters: DataFrame            # (file_id, cluster_id)
    verified: DataFrame            # (a_id, b_id, method, score)
    candidates: DataFrame          # (a_id, b_id, method)
    normalized: DataFrame          # ingest output
    metrics: list[dict] = field(default_factory=list)
    # intermediate stage handles (persisted/checkpointed) so downstream
    # consumers (incremental_dedup.init_index) can PROJECT per-rep features
    # instead of re-running the Arrow kernels over the whole corpus:
    # "shingled" (file_id, lang, shingles, [sig], [sim]) and, when the
    # substring pass runs, "lined" (its input).
    stages: dict = field(default_factory=dict)


class _Checkpointer:
    """Stage materialization: in memory (persist + async count) when root
    is None, else per-stage parquet checkpoints with config-hashed
    manifests."""

    def __init__(self, spark: SparkSession, root: str | None, cfg: DedupConfig,
                 extra_key: tuple = ()):
        self.spark = spark
        self.root = root
        # stable across processes (Python's builtin str hash is seeded per run).
        # extra_key folds run-shape parameters that are not part of DedupConfig
        # (e.g. the active `passes` tuple) into the hash, so rerunning with a
        # different pass set against the same checkpoint dir invalidates
        # everything rather than reloading a stale 'verified'/'clusters'.
        self.cfg_hash = hashlib.sha256(
            json.dumps([cfg.to_dict(), list(extra_key)], sort_keys=True).encode()
        ).hexdigest()[:16]
        self.cfg = cfg
        self.metrics: list[dict] = []
        # build_id of each stage's current-session output; downstream stages
        # record the exact build_ids they consumed, so rebuilding any upstream
        # stage (new build_id) invalidates the whole downstream suffix.
        self.build_ids: dict[str, str] = {}
        # stages read back from a matching parquet checkpoint in this run
        self.reloaded: set[str] = set()
        # in-memory async materialization: stage -> Future (see _submit)
        self._futures: dict = {}
        self._executor = None

    def _paths(self, stage: str) -> tuple[str, str]:
        return (
            os.path.join(self.root, stage),
            os.path.join(self.root, f"{stage}.manifest.json"),
        )

    def run(self, stage: str, build, input_stages: list[str]) -> DataFrame:
        """Build (or reload) one stage; record lineage metrics either way."""
        t0 = time.monotonic()
        if self.root is None:
            # persist now, materialize asynchronously once the stage's
            # INPUT stages finish -- the whole stage DAG runs as concurrent
            # Spark jobs with dependency-aware ordering, so forced
            # materialization serializes nothing (Spark's per-block cache
            # locks make even an early touch of shared lineage compute each
            # partition exactly once). Persist without forced
            # materialization measured slower: branches of one wide job
            # race to fill the cache and recompute shared lineage (139 s vs
            # 87 s at 8 cores, 20k files)
            df = build().persist()
            self._submit(stage, df, input_stages)
            return df
        data_dir, man_path = self._paths(stage)
        expected_inputs = {s: self.build_ids.get(s) for s in input_stages}
        if os.path.exists(man_path) and os.path.exists(data_dir):
            with open(man_path) as f:
                man = json.load(f)
            if (
                man.get("config_hash") == self.cfg_hash
                and man.get("input_ids") == expected_inputs
            ):
                self.build_ids[stage] = man["build_id"]
                self.reloaded.add(stage)
                self.metrics.append({**man, "cached": True})
                return self.spark.read.parquet(data_dir)
            # stale: config changed or an upstream stage was rebuilt
            shutil.rmtree(data_dir, ignore_errors=True)
            if os.path.exists(man_path):
                os.remove(man_path)
        df = build()
        df.write.mode("overwrite").parquet(data_dir)
        out = self.spark.read.parquet(data_dir)
        rows = out.count()
        build_id = uuid.uuid4().hex
        man = {
            "stage": stage,
            "build_id": build_id,
            "config_hash": self.cfg_hash,
            "config": self.cfg.to_dict(),
            "inputs": input_stages,
            "input_ids": expected_inputs,
            "rows": rows,
            "partitions": out.rdd.getNumPartitions(),
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "cached": False,
        }
        with open(man_path, "w") as f:
            json.dump(man, f, indent=1)
        self.build_ids[stage] = build_id
        self.metrics.append(man)
        return out

    def _submit(self, stage: str, df: DataFrame, input_stages: list[str],
                first: bool = False) -> None:
        """Schedule a stage's materialization on the async executor.

        The task blocks on its input stages' futures, then runs one action
        (count, or first() for one-row stats tables). Stages whose inputs
        are ready run as concurrent Spark jobs -- the wall time of the
        pipeline approaches max(critical path latency, total CPU / cores)
        instead of the sum of per-stage walls (the round-1 e2e scaling
        gap). metrics.append is GIL-atomic; entry order is completion
        order, consumers look entries up by stage name."""
        if self._executor is None:
            from concurrent.futures import ThreadPoolExecutor

            self._executor = ThreadPoolExecutor(
                max_workers=12, thread_name_prefix="stage-mat"
            )
        deps = [self._futures[s] for s in input_stages if s in self._futures]

        def task() -> None:
            for d in deps:
                d.result()
            t0 = time.monotonic()
            # job descriptions are thread-local: label this stage's
            # materialization job so the UI/REST profile attributes CPU to
            # the stage instead of "count at CompletableFuture"
            self.spark.sparkContext.setJobDescription(f"stage:{stage}")
            if first:
                row = df.first().asDict()
                self.metrics.append(
                    {"stage": stage, "cached": False, **row}
                )
            else:
                rows = df.count()
                self.metrics.append(
                    {"stage": stage, "cached": False, "rows": rows,
                     "wall_ms": int((time.monotonic() - t0) * 1000),
                     "inputs": input_stages, "async": True}
                )

        self._futures[stage] = self._executor.submit(task)

    def defer_stats(self, stage: str, df: DataFrame,
                    input_stages: list[str] = ()) -> None:
        """Schedule a tiny one-row stats DataFrame whose values become a
        metrics entry; rides the async executor so the stats job overlaps
        the stage work instead of adding a sequential job."""
        self._submit(stage, df, list(input_stages), first=True)

    def wait(self, *stages: str) -> None:
        """Block until the named stages have materialized (propagates any
        stage failure). Needed before builds that run driver-side actions
        of their own (connected components)."""
        for s in stages:
            f = self._futures.get(s)
            if f is not None:
                f.result()

    def sync(self) -> None:
        """Block until every scheduled stage has materialized."""
        for f in list(self._futures.values()):
            f.result()
        if self._executor is not None:
            self._executor.shutdown(wait=True)
            self._executor = None
        self._futures.clear()


def run_pipeline(
    spark: SparkSession,
    files: DataFrame,
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
    passes: tuple[str, ...] = ALL_PASSES,
    # only "count" remains; the keyword stays because perfbench/run.py passes it
    eager_metrics: str = "count",
) -> PipelineResult:
    """files(repo,path,commit,lang,content) -> PipelineResult.

    checkpoint_dir=None materializes every stage in memory (persist + async
    count); a path makes every stage an idempotent parquet checkpoint
    (resumable, north_rule).
    """
    if eager_metrics != "count":
        raise ValueError(f"eager_metrics must be 'count', got {eager_metrics!r}")
    check_passes(passes)
    cfg = cfg or DedupConfig()
    # the layout token folded into the config hash refuses checkpoint dirs
    # written by an earlier stage layout (clean rebuild) instead of
    # misreading them; v3: no parquet "signatures" stage, the candidate
    # stages project sig/sim from "shingles"
    ck = _Checkpointer(spark, checkpoint_dir, cfg,
                       extra_key=tuple(passes) + ("stage-layout-v3",))

    # ---- level 0: ingest ------------------------------------------------
    normalized = ck.run(
        "normalized", lambda: exact_dedup.ingest_normalize(files, cfg), []
    )

    # ---- level 1: exact edges + shingles (independent) -------------------
    # three consumers (exact_edges, representatives x2 via shingles and
    # lined): persist the tiny (norm_sha, rep_id, group_size) table so each
    # consumer's job reuses the agg instead of re-reading normalized and
    # re-running the hash aggregate
    groups = exact_dedup.exact_groups(normalized).persist()
    ex_edges = ck.run(
        "exact_edges",
        lambda: exact_dedup.exact_edges(normalized, groups),
        ["normalized"],
    )
    # two consumers (shingles, lined): persist so the normalized scan + rep
    # semi-join computes once instead of per consumer
    reps = exact_dedup.representatives(normalized, groups).persist()

    need_mh = "minhash" in passes
    need_sh = "simhash" in passes

    # fused kernel: the shingle arrays are born in numpy inside ONE Arrow
    # UDF that also computes the active signature families, so the wide
    # shingle column never round-trips JVM->Python->JVM->Python between a
    # shingle stage and a signature stage (guide §4: control how many bytes
    # cross the boundary)
    shingled = ck.run(
        "shingles",
        lambda: shingles_sigs(reps, cfg, ["file_id", "lang"],
                              minhash=need_mh, simhash=need_sh),
        ["normalized"],
    )

    # ---- level 2: substring fingerprints --------------------------------
    cand_parts: list[DataFrame] = []
    cand_stage_names: list[str] = []
    lined = None
    if "substring" in passes:
        lined = substring.line_hash_sets(reps).persist()
        cand_parts.append(
            ck.run(
                "cand_substring",
                lambda: substring.candidate_pairs(lined, cfg),
                ["normalized"],
            )
        )
        cand_stage_names.append("cand_substring")

    # ---- level 3: candidate joins (signatures are projections of the
    #               materialized shingles stage) ---------------------------
    if need_mh:
        # the band table has TWO consumers (the banded join and
        # hot_bucket_stats); a lazy localCheckpoint computes the explode +
        # per-band xxhash once instead of per consumer (narrow
        # (file_id, band_idx, band_hash) rows, ~24 B each)
        bands = minhash_lsh.lsh_bands(shingled.select("file_id", "sig"), cfg) \
            .localCheckpoint(eager=False)
        cand_parts.append(
            ck.run(
                "cand_minhash",
                lambda: minhash_lsh.candidate_pairs(bands, cfg),
                ["shingles"],
            )
        )
        cand_stage_names.append("cand_minhash")
        if "cand_minhash" not in ck.reloaded:
            # star-pairing elision + dropped degenerate buckets: the
            # hot-bucket path changes pair-level semantics, so the extent
            # must be a reported metric, never silent. The tiny stats job
            # rides the thread pool, overlapping the later stages. A
            # reloaded cand_minhash elided nothing in this run; the run
            # that built it reported its skew.
            ck.defer_stats(
                "cand_minhash_skew",
                minhash_lsh.hot_bucket_stats(bands, cfg),
                input_stages=["cand_minhash"],
            )
    if need_sh:
        cand_parts.append(
            ck.run(
                "cand_simhash",
                lambda: simhash_op.candidate_pairs(
                    shingled.select("file_id", "sim"), cfg
                ),
                ["shingles"],
            )
        )
        cand_stage_names.append("cand_simhash")

    candidates = reduce(DataFrame.unionByName, cand_parts)

    # 'verified' consumes every active cand_* stage: rebuilding any of them
    # (or toggling a pass -- also folded into cfg_hash) invalidates it
    verified = ck.run(
        "verified",
        lambda: verify.verify_candidates(candidates, shingled, lined, cfg),
        ["shingles"] + cand_stage_names,
    )

    edges = verified.select(
        F.col("a_id").alias("src"), F.col("b_id").alias("dst")
    ).unionByName(ex_edges)

    # the clusters build runs driver-side actions (connected components),
    # so its inputs must be materialized before build() executes
    ck.wait("verified", "exact_edges")
    spark.sparkContext.setJobDescription("stage:clusters")
    clusters = ck.run(
        "clusters",
        lambda: cc.cluster_labels(normalized.select("file_id").distinct(),
                                  edges),
        ["verified", "exact_edges"],
    )
    spark.sparkContext.setJobDescription(None)
    ck.sync()

    return PipelineResult(
        clusters=clusters,
        verified=verified,
        candidates=candidates,
        normalized=normalized,
        metrics=ck.metrics,
        stages={
            k: v
            for k, v in (("shingled", shingled), ("lined", lined))
            if v is not None
        },
    )
