"""Extra benchmarks (guide §1): per-job CPU attribution for the e2e
pipeline, and per-query noop-sink isolation + plan capture.

bench.py is the frozen driver contract; this file holds everything else:

  python bench_extra.py pipeline            # e2e with per-job CPU table
  python bench_extra.py query <name> [...]  # noop-timed queries, N repeats
  python bench_extra.py plans <dir> [names] # explain("formatted") dumps

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _rest(spark, path: str):
    url = (
        f"{spark.sparkContext.uiWebUrl}/api/v1/applications/"
        f"{spark.sparkContext.applicationId}/{path}"
    )
    with urllib.request.urlopen(url) as r:
        return json.load(r)


def pipeline_profile(sf_dir: str, cpus: int) -> None:
    """Run the bench pipeline once with the UI on; print CPU per labeled job."""
    import bench
    from microdeduplication_spark.config import DedupConfig
    from microdeduplication_spark.pipeline import run_pipeline
    from microdeduplication_spark.session import build_session
    from microdeduplication_spark.sources.files_source import read_files

    sf = bench._sf_of(sf_dir)
    corpus_path = bench.ensure_bench_corpus(sf)
    n_parts = int(os.environ.get("SPARK_GRAFT_BENCH_PARTS", "32"))
    spark = build_session(
        app_name="bench-extra-pipeline", cores=cpus,
        shuffle_partitions=n_parts,
        extra_conf={"spark.ui.enabled": "true"},
    )
    try:
        files = read_files(spark, parquet_path=corpus_path).repartition(n_parts)
        n_files = files.count()
        t0 = time.monotonic()
        res = run_pipeline(spark, files, DedupConfig())
        n_clusters = res.clusters.select("cluster_id").distinct().count()
        wall = time.monotonic() - t0
        jobs = _rest(spark, "jobs")
        stages = {s["stageId"]: s for s in _rest(spark, "stages")}
        by_desc: dict[str, dict] = {}
        for j in jobs:
            desc = j.get("description") or j.get("name", "?")[:50]
            d = by_desc.setdefault(desc, {"cpu_s": 0.0, "jobs": 0, "stages": 0})
            d["jobs"] += 1
            for sid in j.get("stageIds", []):
                st = stages.get(sid)
                if st and st.get("status") == "COMPLETE":
                    d["cpu_s"] += st.get("executorRunTime", 0) / 1000.0
                    d["stages"] += 1
        print(json.dumps({
            "e2e_wall": round(wall, 2),
            "files_per_sec": round(n_files / wall, 1),
            "n_files": n_files, "n_clusters": n_clusters,
            "cpu_by_job": {
                k: {**v, "cpu_s": round(v["cpu_s"], 1)}
                for k, v in sorted(
                    by_desc.items(), key=lambda kv: -kv[1]["cpu_s"]
                )
            },
        }, indent=1))
    finally:
        spark.stop()


def query_bench(sf_dir: str, cpus: int, names: list[str], n: int = 3) -> None:
    """noop-sink timings (computes every column, no count-pruning)."""
    import __spark_entry__ as em
    from microdeduplication_spark.session import build_session

    spark = build_session(app_name="bench-extra-query", cores=cpus,
                          shuffle_partitions=cpus)
    qs = em.queries()
    out = {}
    try:
        for name in names:
            runs = []
            for i in range(n):
                spark.sparkContext.setJobDescription(f"{name}#{i}")
                t0 = time.monotonic()
                qs[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite").save()
                runs.append(round(time.monotonic() - t0, 3))
            out[name] = runs
            print(f"{name}: {runs}", file=sys.stderr)
    finally:
        spark.stop()
    print(json.dumps(out))


def dump_plans(sf_dir: str, cpus: int, out_dir: str,
               names: list[str]) -> None:
    import __spark_entry__ as em
    from microdeduplication_spark.session import build_session

    os.makedirs(out_dir, exist_ok=True)
    spark = build_session(app_name="bench-extra-plans", cores=cpus,
                          shuffle_partitions=cpus)
    qs = em.queries()
    try:
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(out_dir, f"{name}.txt"), "w") as f:
                f.write(plan)
            print(f"wrote {name}", file=sys.stderr)
    finally:
        spark.stop()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    mode = sys.argv[1] if len(sys.argv) > 1 else "pipeline"
    if mode == "pipeline":
        pipeline_profile(sf_dir, cpus)
    elif mode == "query":
        query_bench(sf_dir, cpus, sys.argv[2:] or ["minhash_lsh_pairs"])
    elif mode == "plans":
        import __spark_entry__ as em

        names = sys.argv[3:] or list(em.queries())
        dump_plans(sf_dir, cpus, sys.argv[2], names)
    else:
        raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()
