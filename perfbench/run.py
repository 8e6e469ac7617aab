"""Benchmark of the dedup engine, driven through its public functions.

    python3 perfbench/run.py --workload full_batch --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout and touches nothing outside it: the
generated inputs, Spark's scratch space and the run record all go under
``.perfbench_work/``.

A run generates the workload's files from ``--seed`` (``corpus.py``), then
sets up: it builds the Spark session (``build_session(cores=nproc)``,
``local[nproc]``, the package's default driver heap) and loads the input;
that set-up, which launches the JVM as every spark-submit process does, is
``setup_s``. Then, until ``--seconds`` have passed (at least once), it times
``run_pipeline`` over the whole corpus, and checks every op's output against
the planted truth outside the timed region. The first op is cold, as every op
of a spark-submit dedup job is: it pays the JVM's JIT, Spark's code
generation and first-touch costs. An op takes longer than the 10 s of
BENCHMARK.json, so each run times one.

``--trace 0`` reports the end-to-end metrics: medians over the timed ops of
the op wall, process-tree CPU and peak process-tree memory. ``--trace 1``
runs the cold op untraced and reads its job, task and
idle-core totals from Spark's status store. It then replays the stage graph
serially, one span per layer call, to report per-layer wall time, task time,
shuffle bytes and counts. Next it runs the daily-increment path on a small
corpus of the workload's shape (``init_index`` over 90% of its files,
``dedup_increment`` of the rest) and checks the index's partition against
that corpus's planted truth. Last comes a pandas-level microbench of the
hashing kernels.

Workloads (2000 files each, about 150 lines per file):
  full_batch  70% independent bases, 12% exact copies, 18% near copies:
              distinct content dominates, so the fused hashing kernel and the
              substring pass do most of the work.
  dup_dense   5% bases, a 120-file near-duplicate family, near-duplicate
              chains and 60% exact copies: the kernel sees 31% of the files,
              and verify, the LSH joins and connected components dominate.

Which end-to-end metric each per-layer metric should move:
  hashing.*, substring.*      files_per_s, op_s and cpu_s on full_batch; little
                              on dup_dense.
  verify.*, minhash_lsh.*,    op_s and cpu_s on dup_dense.
  simhash.*, connected_components.*
  exact_dedup.*, sources.*    both workloads, in proportion to files.
  incremental_dedup.*         none: no workload times a daily increment end
                              to end; these are its only figures.
  pipeline.jobs, .tasks,      op_s on both: fixed per-job cost dominates at
  .idle_core_s                this size.
  the materialization policy  peak_rss_mb on both.

Not measured: the 20 driver queries of ``__spark_entry__.py`` (their input is
a test-data directory outside the checkout).

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}, every metric named in BENCHMARK.json for the chosen mode; the line
before it is the run's telemetry (workload, seed, nproc, files, host steal
fraction). The full run record (per-op samples, host telemetry, spans) is written to
``.perfbench_work/records/``; ``record.py`` compares sets of them.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

import corpus as gen  # noqa: E402
import procfs  # noqa: E402
import record  # noqa: E402
import spans as tr  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from microdeduplication_spark.config import DedupConfig  # noqa: E402
from microdeduplication_spark.functions import hashing as H  # noqa: E402
from microdeduplication_spark.functions.text import line_hashes  # noqa: E402
from microdeduplication_spark.operators import (  # noqa: E402
    connected_components as cc,
    exact_dedup,
    incremental_dedup as inc,
    minhash_lsh,
    simhash,
    substring,
    verify,
)
from microdeduplication_spark.pipeline import run_pipeline  # noqa: E402
from microdeduplication_spark.session import build_session  # noqa: E402
from microdeduplication_spark.sources.files_source import read_files  # noqa: E402

WORKLOADS = {"full_batch": gen.full_batch, "dup_dense": gen.dup_dense}
# files per workload: enough that every layer does real work, few enough
# that a whole run stays near a minute on 4 cores
N_FILES = 2000
# files of the traced run's daily-increment corpus, and the share of them
# that arrives as the increment
N_INCREMENT = 400
INCREMENT_SHARE = 0.1
# the modules whose public functions the replay calls, one span each
LAYERS = ("sources", "exact_dedup", "hashing", "substring", "minhash_lsh",
          "simhash", "verify", "connected_components")
KERNEL_DOCS = 2048
KERNEL_REPS = 3


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _confine_to_checkout() -> None:
    """Point every scratch directory Spark, the JVM and Python use at WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the heap starts at build_session's maximum (SPARK_DRIVER_MEMORY,
    # default 8g) instead of growing to it: left to grow on its own, its
    # size, and with it the tree's peak memory, varied by a quarter from
    # run to run with the collector's timing
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "8g")
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Xms{heap}"


class Workload:
    """A generated corpus, its load, the timed op and the op's check."""

    def __init__(self, name: str, seed: int, nproc: int):
        self.name, self.seed, self.nproc = name, seed, nproc
        self.cfg = DedupConfig()
        self.corpus = WORKLOADS[name](N_FILES, seed)
        self.n_files = len(self.corpus.files)
        self.dir = os.path.join(WORK, f"{name}-{seed}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.path = self._write("files.parquet", self.corpus.files)
        self.spark = None
        self.files = None
        self.row_of: dict[int, int] | None = None

    def _write(self, name: str, files) -> str:
        path = os.path.join(self.dir, name)
        files.to_parquet(path, index=False, row_group_size=1024)
        return path

    def load(self) -> None:
        """The sources layer: the files table, spread over the cores."""
        self.files = read_files(self.spark, parquet_path=self.path) \
            .repartition(self.nproc).persist()
        self.files.count()

    def reset(self) -> None:
        """Drop everything the last op cached; reload the input."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()
        self.load()

    def op(self):
        res = run_pipeline(self.spark, self.files, self.cfg,
                           eager_metrics="count")
        return res.clusters.toPandas()

    def check(self, clusters) -> bool:
        """Does the (file_id, cluster_id) output equal the planted partition?"""
        if self.row_of is None:
            self.row_of = _row_of(self.files, self.cfg, self.corpus)
        return _is_partition(clusters, self.row_of, self.corpus.truth)

    def replay(self, tracer: "tr.Tracer") -> tuple[bool, dict]:
        """run_pipeline's stage graph, one span per layer, each output
        persisted and counted before the next layer starts."""
        cfg, spark = self.cfg, self.spark
        c: dict = {}

        def mat(sp, df):
            df = df.persist()
            n = df.count()
            sp["counts"]["rows"] = sp["counts"].get("rows", 0) + n
            return df, n

        with tracer.span("sources") as sp:
            files, _ = mat(sp, read_files(spark, parquet_path=self.path)
                           .repartition(self.nproc))
        with tracer.span("exact_dedup") as sp:
            normalized, _ = mat(sp, exact_dedup.ingest_normalize(files, cfg))
            groups, _ = mat(sp, exact_dedup.exact_groups(normalized))
            ex_edges, _ = mat(sp, exact_dedup.exact_edges(normalized, groups))
            reps, n = mat(sp, exact_dedup.representatives(normalized, groups))
            c["exact_dedup.reps_per_file"] = n / self.n_files
        with tracer.span("hashing") as sp:
            fused = H.make_shingles_sigs_udf(cfg.shingle_k, cfg.num_perms,
                                             cfg.seed, cfg.simhash_bits)
            shingled, _ = mat(sp, reps.select(
                "file_id", "lang", fused(F.col("content_norm")).alias("_s")
            ).select("file_id", "lang", "_s.shingles", "_s.sig", "_s.sim"))
        with tracer.span("substring") as sp:
            lined, _ = mat(sp, substring.line_hash_sets(reps))
            sub_cands, c["substring.pairs"] = mat(
                sp, substring.candidate_pairs(lined, cfg))
            sub_ver, _ = mat(
                sp, substring.verify_containment(sub_cands, lined, cfg))
        with tracer.span("minhash_lsh") as sp:
            bands, _ = mat(sp, minhash_lsh.lsh_bands(
                shingled.select("file_id", "sig"), cfg))
            mh, c["minhash_lsh.pairs"] = mat(
                sp, minhash_lsh.candidate_pairs(bands, cfg))
            skew = minhash_lsh.hot_bucket_stats(bands, cfg).first()
            c["minhash_lsh.hot_buckets"] = skew.hot_buckets
            c["minhash_lsh.pairs_elided"] = skew.pairs_elided
        with tracer.span("simhash") as sp:
            sh, c["simhash.pairs"] = mat(sp, simhash.candidate_pairs(
                shingled.select("file_id", "sim"), cfg))
        with tracer.span("verify") as sp:
            sim_cands, n_cands = mat(
                sp, mh.unionByName(sh).groupBy("a_id", "b_id")
                .agg(F.min("method").alias("method")))
            ver, n_ver = mat(sp, verify.verify_jaccard(sim_cands, shingled, cfg))
            c["verify.pass_ratio"] = n_ver / n_cands if n_cands else 0.0
        with tracer.span("connected_components") as sp:
            edges = ver.unionByName(sub_ver).select(
                F.col("a_id").alias("src"), F.col("b_id").alias("dst")
            ).unionByName(ex_edges)
            assign = cc.connected_components(edges)
            clusters, _ = mat(sp, normalized.select("file_id").distinct()
                              .join(assign, "file_id", "left").select(
                                  "file_id",
                                  F.coalesce("cluster_id", "file_id")
                                  .alias("cluster_id")))
            out = clusters.toPandas()
        return self.check(out), c

    def increment(self, tracer: "tr.Tracer") -> tuple[bool, dict]:
        """The daily-increment path on a small corpus of the workload's
        shape: init_index over its first files, then dedup_increment of the
        rest, each in a span; the index's partition of corpus and increment
        must equal the planted one."""
        cfg, spark = self.cfg, self.spark
        small = WORKLOADS[self.name](N_INCREMENT, self.seed)
        n_old = int(N_INCREMENT * (1 - INCREMENT_SHARE))
        old = read_files(spark, parquet_path=self._write(
            "old.parquet", small.files.iloc[:n_old])).repartition(self.nproc)
        new = read_files(spark, parquet_path=self._write(
            "new.parquet", small.files.iloc[n_old:])).repartition(self.nproc)
        index_dir = os.path.join(self.dir, "index")
        with tracer.span("init_index"):
            inc.init_index(spark, old, cfg, index_dir)
        with tracer.span("incremental_dedup") as sp:
            sp["counts"]["rows"] = \
                inc.dedup_increment(spark, new, cfg, index_dir).count()
        with tracer.span("check"):
            got = inc.read_clusters(spark, index_dir).toPandas()
            ok = _is_partition(got, _row_of(old.unionByName(new), cfg, small),
                               small.truth)
        stored = sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(index_dir) for f in fs)
        content = small.files.content.str.encode("utf-8").str.len().sum()
        return ok, {"incremental_dedup.stored_bytes_per_input_byte":
                    stored / content}

    def microbench(self) -> dict:
        """Per-doc time of each pandas-level hashing kernel."""
        cfg = self.cfg
        docs = exact_dedup.ingest_normalize(self.files, cfg).select(
            "content_norm", line_hashes(F.col("content_norm")).alias("lines")
        ).limit(KERNEL_DOCS).toPandas()
        masks = H.perm_masks(cfg.num_perms, cfg.seed)
        sh = H.shingles_batch(docs.content_norm, cfg.shingle_k)
        kernels = {
            "shingles": lambda: H.shingles_batch(docs.content_norm,
                                                 cfg.shingle_k),
            "minhash": lambda: H.minhash_batch(sh, masks),
            "simhash": lambda: H.simhash_batch(sh, cfg.simhash_bits),
            "window_fp": lambda: H.window_fp_batch(
                docs.lines, cfg.substr_window, cfg.substr_winnow),
        }
        out = {}
        for name, fn in kernels.items():
            times = []
            for _ in range(KERNEL_REPS):
                t0 = time.perf_counter()
                fn()
                times.append(time.perf_counter() - t0)
            out[f"hashing.{name}_us_per_doc"] = \
                statistics.median(times) / len(docs) * 1e6
        return out


def _row_of(files, cfg: DedupConfig, corpus: gen.Corpus) -> dict[int, int]:
    """file_id -> the file's row in the generated corpus."""
    ids = exact_dedup.ingest_normalize(files, cfg) \
        .select("file_id", "path").toPandas()
    by_path = {p: i for i, p in enumerate(corpus.files.path)}
    return dict(zip(ids.file_id.tolist(), (by_path[p] for p in ids.path)))


def _is_partition(clusters, row_of: dict[int, int], truth) -> bool:
    """Does (file_id, cluster_id) give each file exactly one cluster and
    group the files as the planted labels `truth` do?"""
    got = np.full(len(truth), -1, dtype=np.int64)
    for fid, cid in zip(clusters.file_id.tolist(),
                        clusters.cluster_id.tolist()):
        row = row_of.get(fid)
        if row is None or got[row] != -1:
            return False
        got[row] = cid
    return bool((got != -1).all()) and gen.same_partition(got, truth)


def _session(nproc: int):
    return build_session(
        app_name="perfbench", cores=nproc,
        extra_conf={"spark.ui.showConsoleProgress": "false"})


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait until every process this run started has ended."""
    if spark is None:
        return
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=120)
    procfs.wait_for_children(timeout_s=60)


def set_up(wl: Workload) -> float:
    """Launch the JVM, build the session and load the input; returns the
    wall seconds this took."""
    t0 = time.perf_counter()
    wl.spark = _session(wl.nproc)
    wl.load()
    return time.perf_counter() - t0


def timed_op(wl: Workload) -> dict:
    """One op, timed, with its tree CPU, peak memory and host steal."""
    cpu0, steal0 = procfs.tree_cpu_s(), procfs.steal_ticks()
    out, err = None, None
    with procfs.PeakRss() as rss:
        start = time.time()
        t0 = time.perf_counter()
        try:
            out = wl.op()
        except Exception:  # a failed op is counted, and the run goes on
            err = traceback.format_exc()
        wall = time.perf_counter() - t0
    sample = {"op_s": wall, "window": (start, start + wall),
              "cpu_s": procfs.tree_cpu_s() - cpu0,
              "peak_rss_mb": rss.peak_mb,
              "steal_frac": procfs.steal_frac(steal0, procfs.steal_ticks())}
    if err is None:
        try:
            sample["ok"] = wl.check(out)
        except Exception:
            err = traceback.format_exc()
    if err is not None:
        log(err)
        sample["ok"] = False
    log(f"op: {sample}")
    return sample


def run_e2e(wl: Workload, seconds: float, rec: dict) -> dict:
    setup_s = set_up(wl)
    # the first op is cold, like every op of a spark-submit job; at the
    # benchmark's --seconds 10 it is the only one (timing warm ops after it
    # instead made runs longer without making them steadier)
    samples = []
    t_end = time.monotonic() + seconds
    while not samples or time.monotonic() < t_end:
        if samples:
            wl.reset()
        samples.append(timed_op(wl))
    rec["ops"] = samples
    med = {k: statistics.median(s[k] for s in samples)
           for k in ("op_s", "cpu_s", "peak_rss_mb")}
    values = {**med, "files_per_s": wl.n_files / med["op_s"],
              "setup_s": setup_s}
    return _result([s["ok"] for s in samples], values, rec)


def run_traced(wl: Workload, rec: dict) -> dict:
    set_up(wl)
    # the cold untraced op: its totals are every job submitted while it ran
    # (the pipeline's stage jobs run on its own threads, outside any group)
    sample = timed_op(wl)
    wl.reset()
    tracer = tr.Tracer(wl.spark.sparkContext)
    t0 = time.perf_counter()
    with tracer.span("replay") as root:
        ok, counts = wl.replay(tracer)
    replay_s = time.perf_counter() - t0
    inc_ok, inc_counts = wl.increment(tracer)
    jobs = tr.job_metrics(wl.spark.sparkContext)
    values = {**counts, **inc_counts, **wl.microbench()}

    def within(window):
        return lambda j: j["submitted"] is not None and \
            window[0] <= j["submitted"] <= window[1]

    opm = tr.total(jobs, within(sample["window"]))
    values.update({"pipeline.jobs": opm["jobs"],
                   "pipeline.tasks": opm["tasks"],
                   "pipeline.task_s": opm["run_s"],
                   "pipeline.idle_core_s":
                       wl.nproc * sample["op_s"] - opm["run_s"]})

    # every job submitted from the replay's start on, whatever thread
    # submitted it, against the ones the layer spans claim
    traced = tr.total(jobs, within((root["start"], time.time())))
    attributed = 0.0
    for sp in tracer.spans:
        if sp is root:
            continue
        m = tr.total(jobs, tr.in_span(sp))
        attributed += m["run_s"]
        name, wall = sp["name"], sp["end"] - sp["start"]
        if name in LAYERS:
            values.update({f"{name}.wall_s": wall,
                           f"{name}.task_s": m["run_s"],
                           f"{name}.shuffle_mb": m["shuffle_write_mb"],
                           f"{name}.rows_out": sp["counts"].get("rows", 0)})
        if name == "connected_components":
            values["connected_components.jobs"] = m["jobs"]
        if name == "incremental_dedup":
            values.update({"incremental_dedup.wall_s": wall,
                           "incremental_dedup.jobs": m["jobs"],
                           "incremental_dedup.task_s": m["run_s"],
                           "incremental_dedup.input_mb": m["input_mb"],
                           "incremental_dedup.output_mb": m["output_mb"],
                           "incremental_dedup.idle_core_s":
                               wl.nproc * wall - m["run_s"]})
    # the serial replay's cost over the cold op it replays; the replay runs
    # in a warm JVM, so this reads negative when warmth saves more than
    # materializing every layer serially costs
    values["trace.overhead_s"] = replay_s - sample["op_s"]
    values["trace.unattributed_task_s"] = traced["run_s"] - attributed
    values["trace.attributed_frac"] = \
        attributed / traced["run_s"] if traced["run_s"] else 0.0
    rec.update(ops=[sample], replay_s=replay_s, spans=tracer.spans)
    return _result([sample["ok"], ok, inc_ok], values, rec)


def _result(oks: list[bool], values: dict, rec: dict) -> dict:
    failed = oks.count(False)
    rec["values"] = values
    return {"correct": failed == 0, "attempted": len(oks),
            "failed": failed, "values": values}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec = record.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    _confine_to_checkout()
    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    wl = Workload(args.workload, args.seed, nproc)
    rec = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "nproc": nproc, "n_files": wl.n_files, "seconds": args.seconds,
           "generate_s": time.perf_counter() - t0}
    steal0 = procfs.steal_ticks()
    try:
        res = run_traced(wl, rec) if args.trace else \
            run_e2e(wl, args.seconds, rec)
    finally:
        _stop_spark(wl.spark)
    rec["steal_frac"] = procfs.steal_frac(steal0, procfs.steal_ticks())
    key = "per_layer" if args.trace else "end_to_end"
    res["metrics"] = record.metrics(spec[key], res.pop("values"))
    rec["result"] = res
    os.makedirs(os.path.join(WORK, "records"), exist_ok=True)
    path = os.path.join(WORK, "records",
                        f"{args.workload}-{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1)
    log(f"record: {path}")
    shutil.rmtree(wl.dir, ignore_errors=True)
    print(json.dumps({"telemetry": {k: rec[k] for k in (
        "workload", "seed", "nproc", "n_files", "steal_frac")}}))
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
