"""Incremental dedup: a NEW batch against an existing corpus signature index.

The reference is a one-shot batch job (the whole corpus re-reads every run,
/root/reference/deduplicaiton/.../processes/Deduplication.java:31-43); a
training-data pipeline instead receives a daily crawl drop and must dedup it
against yesterday's corpus WITHOUT touching the corpus's raw bytes again.
This module persists the pipeline's signature state as an append-only index
and processes each increment by joining only the batch against it.

Index layout (parquet dirs under index_dir):
    manifest.json   {cfg_hash, passes}                 refuses mismatched runs
    members/        (file_id, norm_sha, cluster_id)    every file ever indexed
    reps/           (file_id, shingles, [sig], [sim],  one row per DISTINCT
                     [fps, line_set])                  normalized content
    remap/          (old_cluster_id, new_cluster_id)   merges from bridge files

Scale design (10^12-file corpus, 10^7-10^9-file daily batch):
- Old content is never re-read. Near-dup joins run on stored signatures;
  band/probe tables are re-derived from `sig`/`sim` with pure JVM
  expressions (xxhash64 over array slices / bit ops), so no UDF ever
  touches the index scan. Substring fingerprints (the one signature that
  needs the Arrow kernel) are precomputed into `fps` at index time.
- Near-dup candidates run the EXACT one-shot banded_self_join over only
  the buckets the batch touches: the distinct new bucket keys semi-join
  the old band scan map-side (broadcast when the counted key table is
  under `broadcast_threshold` rows), and the combined members of affected
  buckets flow through the one-shot operator -- same degenerate-bucket
  drop and hot-bucket star policy at COMBINED occupancy, so an adversarial
  hot batch can never expand an n_old x n_new cross product. The index is
  scanned once per family; the shuffle is O(batch x occupancy).
- Content seen before (norm_sha already indexed) attaches to its existing
  cluster by a sha join alone -- no signature is computed for it. The
  all-duplicates adversarial batch costs one hash join.
- Cluster merges (a batch file bridging two old clusters) do not rewrite
  members/: CC runs over batch edges PROJECTED onto old cluster ids (edge
  count ~ batch size, never corpus size) and merges append to remap/,
  resolved at read time by a driver-side transitive fold over the (tiny)
  merge set. `read_clusters` is the resolved view.
- Increments are idempotent: batch files already present in members/ are
  dropped up front (anti-join), so a crashed-and-retried increment cannot
  double-count. Appends land reps -> remap -> members (members is the
  idempotence marker, so it goes LAST); any crash window is repaired by
  re-running the same increment. The contract is AT-LEAST-ONCE: a crashed
  increment must eventually be retried, not abandoned -- a crash between
  the remap and members appends leaves merge rows whose bridge file is not
  yet a member (the retry lands it; the reverse append order would lose
  the merges forever on retry, which is strictly worse).
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import shutil
from dataclasses import asdict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from microdeduplication_spark.config import DedupConfig
from microdeduplication_spark.operators import (
    connected_components as cc,
    exact_dedup,
    minhash_lsh,
    simhash as simhash_op,
    substring,
)
from microdeduplication_spark.functions.hashing import (
    make_window_fp_udf,
    shingles_sigs,
)
from microdeduplication_spark.operators.minhash_lsh import banded_self_join
from microdeduplication_spark.operators.verify import verify_jaccard

ALL_PASSES = ("minhash", "simhash", "substring")


def _cfg_hash(cfg: DedupConfig, passes: tuple[str, ...]) -> str:
    doc = json.dumps({"cfg": asdict(cfg), "passes": sorted(passes)},
                     sort_keys=True)
    return hashlib.sha256(doc.encode()).hexdigest()[:16]


def _manifest_path(index_dir: str) -> str:
    return os.path.join(index_dir, "manifest.json")


def _table_path(index_dir: str, table: str) -> str:
    """Single seam for index table paths (tests inject crash points here)."""
    return os.path.join(index_dir, table)


def _check_manifest(index_dir: str, cfg: DedupConfig,
                    passes: tuple[str, ...]) -> None:
    with open(_manifest_path(index_dir)) as f:
        man = json.load(f)
    got = _cfg_hash(cfg, passes)
    if man["cfg_hash"] != got:
        raise ValueError(
            f"index {index_dir} was built with cfg_hash={man['cfg_hash']} "
            f"(passes={man['passes']}); increment supplied {got} "
            f"(passes={sorted(passes)}) -- signatures are not comparable "
            "across configs; rebuild the index or match the config"
        )


def _substring_features(lined: DataFrame, cfg: DedupConfig) -> DataFrame:
    """(file_id, fps, line_set): winnowed window fingerprints of the line
    hashes, kept next to the line set the containment verify reads."""
    fp = make_window_fp_udf(cfg.substr_window, cfg.substr_winnow)
    return lined.select("file_id", fp(F.col("lines")).alias("fps"), "line_set")


def _rep_features(reps: DataFrame, cfg: DedupConfig,
                  passes: tuple[str, ...]) -> DataFrame:
    """(file_id, shingles, [sig], [sim], [fps, line_set]) for distinct reps.

    Shingles and every signature family come from ONE Arrow pass (the
    pipeline's shingles stage runs the same shingles_sigs call)."""
    feats = shingles_sigs(reps, cfg, ["file_id"], minhash="minhash" in passes,
                          simhash="simhash" in passes)
    if "substring" in passes:
        feats = feats.join(
            _substring_features(substring.line_hash_sets(reps), cfg),
            "file_id")
    return feats


def _features_from_result(res, cfg: DedupConfig,
                          passes: tuple[str, ...]) -> DataFrame:
    """Index rep features PROJECTED from the pipeline's own materialized
    stages (shingled carries the fused sig/sim columns; lined) instead of
    re-running the Arrow kernels over the whole corpus. Only the substring
    window fingerprints are recomputed (from the materialized line hashes,
    skipping the line-hash kernel). Same columns as _rep_features."""
    feats = res.stages["shingled"].drop("lang")
    if "substring" in passes:
        feats = feats.join(
            _substring_features(res.stages["lined"], cfg), "file_id")
    return feats


def init_index(spark: SparkSession, files: DataFrame, cfg: DedupConfig,
               index_dir: str, passes: tuple[str, ...] = ALL_PASSES):
    """One-shot pipeline over the initial corpus + persist its signature
    state. Returns the PipelineResult of the full run."""
    from microdeduplication_spark.pipeline import run_pipeline

    res = run_pipeline(spark, files, cfg, passes=passes)
    norm = res.normalized

    os.makedirs(index_dir, exist_ok=True)
    norm.join(res.clusters, "file_id").select(
        "file_id", "norm_sha", "cluster_id"
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "members"))
    _features_from_result(res, cfg, passes).write.mode("overwrite").parquet(
        os.path.join(index_dir, "reps")
    )
    spark.createDataFrame(
        [], "old_cluster_id long, new_cluster_id long"
    ).write.mode("overwrite").parquet(os.path.join(index_dir, "remap"))
    with open(_manifest_path(index_dir), "w") as f:
        json.dump({"cfg_hash": _cfg_hash(cfg, passes),
                   "passes": sorted(passes)}, f)
    return res


def _resolve_remap(spark: SparkSession, index_dir: str) -> dict[int, int]:
    """Driver-side transitive closure of the remap chain. The merge set is
    metadata-scale (one row per cluster merge ever), documented bound."""
    rows = spark.read.parquet(os.path.join(index_dir, "remap")).collect()
    m = {r.old_cluster_id: r.new_cluster_id for r in rows}
    out: dict[int, int] = {}
    for k in m:
        v, seen = k, set()
        while v in m and v not in seen:
            seen.add(v)
            v = m[v]
        out[k] = v
    return out


def _apply_remap(spark: SparkSession, df: DataFrame,
                 remap: dict[int, int]) -> DataFrame:
    if not remap:
        return df
    rm = spark.createDataFrame(
        list(remap.items()), "cluster_id long, resolved long"
    )
    return df.join(F.broadcast(rm), "cluster_id", "left").select(
        *[c for c in df.columns if c != "cluster_id"],
        F.coalesce("resolved", "cluster_id").alias("cluster_id"),
    )


def read_clusters(spark: SparkSession, index_dir: str) -> DataFrame:
    """(file_id, cluster_id) for the whole indexed corpus, merges resolved."""
    _recover_index(index_dir)
    members = spark.read.parquet(os.path.join(index_dir, "members"))
    return _apply_remap(
        spark, members.select("file_id", "cluster_id"),
        _resolve_remap(spark, index_dir),
    )


def _recover_index(index_dir: str) -> None:
    """Roll any half-finished checkpoint_index table swap forward/back
    (same crash-window protocol as the streaming sink's compaction,
    streaming/incremental.py:255). Cheap -- two globs when idle."""
    for old in glob.glob(os.path.join(index_dir, "*.compact_old")):
        live = old[: -len(".compact_old")]
        tmp = live + ".compact_tmp"
        if os.path.exists(live):        # crashed after step 3: finish delete
            shutil.rmtree(old)
        elif os.path.exists(tmp):       # crashed between 2 and 3: roll fwd
            os.rename(tmp, live)
            shutil.rmtree(old)
        else:                           # tmp lost: roll back to the old data
            os.rename(old, live)
    for tmp in glob.glob(os.path.join(index_dir, "*.compact_tmp")):
        if os.path.exists(tmp[: -len(".compact_tmp")]):
            shutil.rmtree(tmp)          # crashed before step 2: stale tmp


def _swap_table(index_dir: str, table: str, write_tmp) -> None:
    """Atomically replace an index table dir via the 4-step rename protocol:
    write tmp (old data stays live) -> live->old -> tmp->live -> delete old.
    Each rename is atomic on one filesystem; _recover_index converges every
    crash window."""
    live = os.path.join(index_dir, table)
    tmp, old = live + ".compact_tmp", live + ".compact_old"
    write_tmp(tmp)                       # step 1
    os.rename(live, old)                 # step 2
    os.rename(tmp, live)                 # step 3
    shutil.rmtree(old)                   # step 4


def checkpoint_index(spark: SparkSession, index_dir: str,
                     n_partitions: int = 8) -> None:
    """Compact the index: fold the remap log into members/ and rewrite both
    row tables with `n_partitions` files each.

    Appends grow two things without bound: per-increment small parquet files
    in members/ and reps/ (the 100 TB killer -- a year of daily increments
    is ~365x the file count per table) and the remap merge log, whose
    read-time driver fold grows with every bridge batch. Checkpointing
    rewrites members with RESOLVED cluster ids, coalesces reps, then resets
    remap to empty. Size n_partitions so each output file is ~128-512 MB at
    the deployment's corpus size.

    Crash-safe and idempotent under the single-writer assumption (one
    increment/checkpoint at a time): tables swap via _swap_table and remap
    clears LAST, so a crash anywhere leaves reads correct -- remap ids map
    strictly downward (a merge's new id is the CC min, always below the old
    id), so the chain is acyclic and re-applying remap to already-resolved
    members is a no-op."""
    _recover_index(index_dir)
    remap = _resolve_remap(spark, index_dir)

    # the tmp write (step 1) runs while the live dir is still in place, so
    # each rewrite streams source -> tmp with no interim materialization
    members = _apply_remap(
        spark, spark.read.parquet(os.path.join(index_dir, "members")), remap
    ).repartition(n_partitions)
    _swap_table(index_dir, "members",
                lambda tmp: members.write.parquet(tmp))

    reps = spark.read.parquet(os.path.join(index_dir, "reps")) \
        .repartition(n_partitions)
    _swap_table(index_dir, "reps", lambda tmp: reps.write.parquet(tmp))

    # the reset goes through the same atomic swap as the row tables: a
    # plain overwrite deletes the live dir before the new commit lands, and
    # a crash in that window leaves remap/ unreadable with nothing to roll
    # it forward (the review's one unprotected window)
    empty = spark.createDataFrame(
        [], "old_cluster_id long, new_cluster_id long"
    )
    _swap_table(index_dir, "remap", lambda tmp: empty.write.parquet(tmp))


def _affected_band_pairs(new_bands: DataFrame, old_bands: DataFrame,
                         cfg: DedupConfig, method: str,
                         broadcast_threshold: int) -> DataFrame:
    """Candidate pairs for one signature family via the EXACT one-shot
    banded_self_join over every bucket the batch touches: the new band rows
    plus the old members of buckets containing >=1 new row. Untouched
    buckets cannot gain pairs -- their occupancy is unchanged and their
    pairs were generated when their rows were indexed.

    Running the one-shot operator on the combined members reproduces its
    full policy at COMBINED occupancy -- degenerate buckets (> bucket_drop)
    dropped, hot buckets star-paired -- which keeps the one-shot
    equivalence contract AND bounds an adversarial batch: a bucket shared
    by n_old + n_new near-identical docs can never expand to an
    n_old x n_new cross product. (A per-side occupancy cap, the previous
    design, diverged on buckets that only exceed the cap combined.)

    Plan: the distinct new bucket keys drive a left-semi join that filters
    the old band scan map-side (broadcast when the counted KEY table -- not
    a rep-count proxy -- is under the threshold; the derived band tables
    are 32-1000x larger than the rep count, so rep count is the wrong
    sizing input). Only affected old rows reach the self-join exchange, so
    the shuffle stays O(batch x occupancy), never O(corpus)."""
    keys = (
        new_bands.select("band_idx", "band_hash")
        .distinct()
        .localCheckpoint(eager=False)
    )
    if keys.count() <= broadcast_threshold:
        keys = F.broadcast(keys)
    affected_old = old_bands.join(
        keys, ["band_idx", "band_hash"], "left_semi"
    )
    cols = ["file_id", "band_idx", "band_hash"]
    combined = new_bands.select(*cols).unionByName(affected_old.select(*cols))
    return banded_self_join(combined, cfg, method=method)


def dedup_increment(
    spark: SparkSession,
    new_files: DataFrame,
    cfg: DedupConfig,
    index_dir: str,
    passes: tuple[str, ...] = ALL_PASSES,
    broadcast_threshold: int = 2_000_000,
) -> DataFrame:
    """Dedup `new_files` against the index (and within itself), append the
    batch to the index, and return (file_id, cluster_id) for the batch.

    Cluster ids returned are fully resolved (post-merge); a bridge file
    that merges two existing clusters appends the merge to remap/."""
    _check_manifest(index_dir, cfg, passes)
    _recover_index(index_dir)

    members = spark.read.parquet(os.path.join(index_dir, "members"))
    reps_idx = spark.read.parquet(os.path.join(index_dir, "reps"))

    norm = exact_dedup.ingest_normalize(new_files, cfg)
    # idempotence: drop batch files the index already contains
    norm = norm.join(
        members.select("file_id"), "file_id", "left_anti"
    ).localCheckpoint(eager=False)

    # ---- exact layer ----------------------------------------------------
    # one anchor per distinct indexed content (min file_id, the same
    # canonical choice as exact_groups)
    sha_anchors = members.groupBy("norm_sha").agg(
        F.min("file_id").alias("anchor_id")
    )
    # (file_id, norm_sha, anchor_id): batch files whose content is indexed --
    # the batch side is the small one; the anchors aggregation is one
    # content-free pass over members
    batch_sha = norm.select("file_id", "norm_sha")
    known = batch_sha.join(sha_anchors, "norm_sha")
    known_edges = known.select(
        F.col("anchor_id").alias("src"), F.col("file_id").alias("dst")
    )

    groups_new = exact_dedup.exact_groups(norm)
    exact_edges_new = exact_dedup.exact_edges(norm, groups_new)

    # ---- near-dup layer (unseen distinct content only) ------------------
    known_shas = known.select("norm_sha").distinct()
    reps_new = exact_dedup.representatives(norm, groups_new).join(
        norm.join(known_shas, "norm_sha", "left_semi").select("file_id"),
        "file_id", "left_anti",
    )
    feats_new = _rep_features(reps_new, cfg, passes) \
        .localCheckpoint(eager=False)

    near_cands: list[DataFrame] = []
    if "minhash" in passes:
        bands_new = minhash_lsh.lsh_bands(
            feats_new.select("file_id", "sig"), cfg)
        bands_old = minhash_lsh.lsh_bands(
            reps_idx.select("file_id", "sig"), cfg)
        near_cands.append(_affected_band_pairs(
            bands_new, bands_old, cfg, "minhash", broadcast_threshold))
    if "simhash" in passes:
        sims_new = feats_new.select("file_id", "sim")
        probes_new = simhash_op.simhash_bands(sims_new, cfg)
        probes_old = simhash_op.simhash_bands(
            reps_idx.select("file_id", "sim"), cfg)
        ham_cands = _affected_band_pairs(
            probes_new, probes_old, cfg, "simhash", broadcast_threshold)
        # exact Hamming rescore, sims from whichever side owns the id
        all_sims = sims_new.unionByName(
            reps_idx.select("file_id", "sim")
        ).localCheckpoint(eager=False)
        a_sim = all_sims.select(F.col("file_id").alias("a_id"),
                                F.col("sim").alias("a_sim"))
        b_sim = all_sims.select(F.col("file_id").alias("b_id"),
                                F.col("sim").alias("b_sim"))
        near_cands.append(
            ham_cands.join(a_sim, "a_id").join(b_sim, "b_id")
            .where(F.bit_count(F.col("a_sim").bitwiseXOR(F.col("b_sim")))
                   <= F.lit(cfg.hamming_threshold))
            .select("a_id", "b_id", "method")
        )
    sub_cands = None
    if "substring" in passes:
        fps_new = feats_new.select(
            "file_id", F.explode("fps").alias("band_hash")
        ).withColumn("band_idx", F.lit(0))
        fps_old = reps_idx.select(
            "file_id", F.explode("fps").alias("band_hash")
        ).withColumn("band_idx", F.lit(0))
        sub_cands = _affected_band_pairs(
            fps_new, fps_old, cfg, "substring", broadcast_threshold)

    # ---- verification ---------------------------------------------------
    shingle_all = feats_new.select("file_id", "shingles").unionByName(
        reps_idx.select("file_id", "shingles")
    )
    ver_parts: list[DataFrame] = []
    if near_cands:
        sim_cands = near_cands[0]
        for p in near_cands[1:]:
            sim_cands = sim_cands.unionByName(p)
        sim_cands = sim_cands.groupBy("a_id", "b_id").agg(
            F.min("method").alias("method"))
        ver_parts.append(verify_jaccard(sim_cands, shingle_all, cfg))
    if sub_cands is not None:
        line_all = feats_new.select("file_id", "line_set").unionByName(
            reps_idx.select("file_id", "line_set")
        )
        ver_parts.append(
            substring.verify_containment(sub_cands, line_all, cfg))
    verified = None
    if ver_parts:
        verified = ver_parts[0]
        for p in ver_parts[1:]:
            verified = verified.unionByName(p)

    # ---- clustering: CC over batch edges projected onto old cluster ids -
    edges = known_edges.unionByName(exact_edges_new)
    if verified is not None:
        edges = edges.unionByName(
            verified.select(F.col("a_id").alias("src"),
                            F.col("b_id").alias("dst")))
    # project old endpoints onto their CLUSTER id so CC never sees the
    # corpus: edge count stays O(batch), merges surface as components
    # containing several old cluster ids
    old_cid = members.select("file_id", F.col("cluster_id").alias("_cid"))
    remap_now = _resolve_remap(spark, index_dir)

    def proj(edges_df: DataFrame, col: str) -> DataFrame:
        e = edges_df.join(old_cid.withColumnRenamed("file_id", col),
                          col, "left")
        return e.select(
            *[F.coalesce("_cid", c).alias(c) if c == col else F.col(c)
              for c in ("src", "dst")]
        )

    edges = proj(proj(edges, "src"), "dst").where(F.col("src") != F.col("dst"))
    if remap_now:
        rm = spark.createDataFrame(list(remap_now.items()),
                                   "old long, new long")
        for col in ("src", "dst"):
            edges = edges.join(
                F.broadcast(rm).withColumnRenamed("old", col), col, "left"
            ).select(
                F.coalesce("new", "src").alias("src") if col == "src"
                else F.col("src"),
                F.coalesce("new", "dst").alias("dst") if col == "dst"
                else F.col("dst"),
            )
        edges = edges.where(F.col("src") != F.col("dst"))
    assign = cc.connected_components(edges)

    batch_ids = norm.select("file_id")
    batch_clusters = batch_ids.join(assign, "file_id", "left").select(
        "file_id", F.coalesce("cluster_id", "file_id").alias("cluster_id")
    ).localCheckpoint(eager=False)

    # old cluster ids whose component got a new (smaller) id -> remap rows
    merges = assign.join(
        members.select(F.col("cluster_id").alias("file_id")).distinct(),
        "file_id", "left_semi",
    ).where(F.col("file_id") != F.col("cluster_id")).select(
        F.col("file_id").alias("old_cluster_id"),
        F.col("cluster_id").alias("new_cluster_id"),
    )

    # ---- append ---------------------------------------------------------
    # ORDER MATTERS for crash safety: members is the idempotence marker
    # (the up-front anti-join keys on it), so it must land LAST. A crash
    # after an earlier append just re-runs: reps is guarded by its own
    # anti-join (no duplicate signature rows), remap rows are deduped by
    # _resolve_remap's dict fold, and the retry recomputes the same
    # deterministic values. Were members written first (the original
    # order), a crash before the reps append would make the retry a no-op
    # and leave the index PERMANENTLY missing the batch's signatures.
    feats_new.join(
        reps_idx.select("file_id"), "file_id", "left_anti"
    ).write.mode("append").parquet(_table_path(index_dir, "reps"))
    merges.write.mode("append").parquet(_table_path(index_dir, "remap"))
    norm.select("file_id", "norm_sha").join(
        batch_clusters, "file_id"
    ).write.mode("append").parquet(_table_path(index_dir, "members"))
    return batch_clusters
