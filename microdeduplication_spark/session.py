"""SparkSession factory tuned for the dedup pipeline.

Local-mode testing stands in for the multi-executor cluster (BASELINE.md):
the same builder is used at two parallelism levels for the scaling-efficiency
benchmark. All scale-sensitive settings (AQE, skew join, shuffle partitions,
Arrow batching) are centralized here so tests/bench/spark-submit agree.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _java_opts() -> str:
    opts = ["-XX:+UseParallelGC"]
    gc_threads = os.environ.get("SPARK_GC_THREADS")
    if gc_threads:
        opts.append(f"-XX:ParallelGCThreads={int(gc_threads)}")
    return " ".join(opts)


def build_session(
    app_name: str = "microdeduplication-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    executors: int | None = None,
    executor_mem_mb: int = 6144,
) -> SparkSession:
    """Build a SparkSession.

    cores=None uses local[*]; otherwise local[cores]. On a real cluster this
    module is bypassed entirely (spark-submit provides the session) -- every
    pipeline function takes the session as an argument and never calls
    getOrCreate itself.

    executors=E switches to local-cluster[E, cores/E, executor_mem_mb]:
    E SEPARATE executor JVMs (own heap, own GC, own python workers) with
    netty shuffle between them -- the closest single-box model of the north
    rule's "N vs 4N executors" pair, and the configuration the scaling
    bench uses for its executor-mode legs (scale-out adds executors of
    FIXED shape, exactly like a real cluster).
    """
    cores = cores or os.cpu_count() or 4
    shuffle_partitions = shuffle_partitions or max(int(cores), 4)
    # the preloading worker daemon (pydaemon.py) is imported by the python
    # workers the JVM forks; they resolve imports from the PYTHONPATH env
    # var (not the driver's sys.path), so make sure the repo root is there
    # BEFORE the JVM (which inherits this environment) launches
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env_path = os.environ.get("PYTHONPATH", "")
    if repo_root not in env_path.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + env_path if env_path else "")
        )
    if executors:
        per = max(cores // executors, 1)
        master = f"local-cluster[{executors},{per},{executor_mem_mb}]"
        # local-cluster executors fork their own python workers, which do
        # NOT inherit the driver's sys.path -- ship the repo root explicitly
        # (a real cluster would use --py-files with a package zip instead)
        repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        worker_path = repo_root + os.pathsep + os.environ.get("PYTHONPATH", "")
        extra_conf = dict(extra_conf or {})
        extra_conf.setdefault("spark.executorEnv.PYTHONPATH", worker_path)
    else:
        master = f"local[{cores}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # content strings can be large; keep Arrow batches bounded so a
        # pandas_udf batch of big files does not blow executor memory
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # batch-throughput GC: ParallelGC cut measured total CPU by ~20% vs
        # the G1 default on the dedup pipeline (one shared heap in local
        # mode). SPARK_GC_THREADS pins -XX:ParallelGCThreads -- the scaling
        # bench sizes it to each leg's CPU budget (a taskset-pinned JVM may
        # otherwise size GC workers from the full host core count).
        .config("spark.driver.extraJavaOptions", _java_opts())
        .config("spark.executor.extraJavaOptions", _java_opts())
        .config("spark.executor.memory", f"{executor_mem_mb}m")
        # SPARK_OFFHEAP_MB > 0 moves execution/shuffle buffers off-heap
        # (Tungsten unsafe): less allocation pressure on the shared heap --
        # one of the scaling-bench falsification knobs.
        .config("spark.memory.offHeap.enabled",
                "true" if int(os.environ.get("SPARK_OFFHEAP_MB", "0")) else "false")
        .config("spark.memory.offHeap.size",
                f"{int(os.environ.get('SPARK_OFFHEAP_MB', '0')) or 1}m")
        # single-host shuffle goes through the page cache; lz4 is pure CPU
        # overhead here. A network-shuffling cluster keeps compression ON --
        # this module is explicitly the local stand-in (see docstring).
        # SPARK_GRAFT_SHUFFLE_COMPRESS=true restores the cluster default
        # (trades CPU for memory-bus bytes; measured in BENCH/BASELINE.md).
        .config("spark.shuffle.compress",
                os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"))
        .config("spark.shuffle.spill.compress",
                os.environ.get("SPARK_GRAFT_SHUFFLE_COMPRESS", "false"))
        # persisted stage tables are read back within the same job graph and
        # dropped at session end; columnar-cache compression is pure CPU on
        # both the write and every read here (measured ~6% of e2e wall).
        # Memory-constrained deployments flip it back on -- the knob trades
        # cache footprint for CPU at any cluster size.
        .config("spark.sql.inMemoryColumnarStorage.compressed",
                os.environ.get("SPARK_GRAFT_CACHE_COMPRESS", "false"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # fork python workers from a daemon that has numpy/pandas/pyarrow
        # already imported (copy-on-write): the first Python-UDF stage of a
        # session otherwise pays ~32 parallel cold imports (~108 core-s of
        # executor wait measured at 32 slots) before any kernel runs
        .config("spark.python.daemon.module",
                "microdeduplication_spark.pydaemon")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if os.environ.get("SPARK_GRAFT_PREWARM", "1") != "0":
        # spawn the per-slot python workers NOW (one trivial Arrow-UDF task
        # per core) so the daemon start + worker forks + Arrow handshake are
        # session-setup cost, like JVM startup, instead of landing inside
        # the first real Python stage. Workers are reused for the session
        # (spark.python.worker.reuse default). ~0.5 s; disable with
        # SPARK_GRAFT_PREWARM=0.
        from pyspark.sql import functions as F

        def _identity(s):
            return s

        # untyped on purpose: a pandas_udf without type hints is a scalar
        # pandas UDF, so importing this module never needs pandas
        warm = F.pandas_udf(_identity, "long")
        (spark.range(cores, numPartitions=int(cores))
             .select(warm("id").alias("id"))
             .write.format("noop").mode("overwrite").save())
    return spark
