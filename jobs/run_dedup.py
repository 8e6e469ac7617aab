"""Production entry point: spark-submit --py-files microdeduplication_spark.zip \\
       jobs/run_dedup.py --input <parquet-or-table> --output <dir> \\
       [--checkpoint-dir <dir>] [--passes minhash,simhash,substring] [--langs py,java]

Runs the full near-dup pipeline over a files(repo,path,commit,lang,content)
table and writes:
    <output>/clusters/     (file_id, cluster_id) parquet
    <output>/verified/     (a_id, b_id, method, score) parquet
    <output>/stats/        cluster-size histogram parquet (coalesced: tiny)
    <output>/metrics.json  per-stage lineage manifest + dedup summary

On a cluster the session comes from spark-submit (no local[] builder); the
job only composes DataFrames. Resumability: pass --checkpoint-dir, rerun
after failure -- completed stages reload from their manifests (pipeline.py).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", required=True,
                   help="parquet path or catalog table (prefix table: )")
    p.add_argument("--output", required=True)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--passes", default="minhash,simhash,substring")
    p.add_argument("--langs", default=None, help="comma-separated lang filter")
    p.add_argument("--shingle-k", type=int, default=None)
    p.add_argument("--jaccard-threshold", type=float, default=None)
    p.add_argument("--bucket-cap", type=int, default=None,
                   help="star-pair LSH buckets above this size")
    p.add_argument("--bucket-drop", type=int, default=None,
                   help="drop degenerate buckets above this size")
    p.add_argument("--simhash-tables", type=int, default=None,
                   help="SimHash bit blocks (e.g. 8 for the 1e12 preset)")
    p.add_argument("--simhash-block-combo", type=int, default=None,
                   help="blocks per probe key (e.g. 4 for 32-bit keys)")
    p.add_argument("--hamming-threshold", type=int, default=None)
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from microdeduplication_spark.config import DedupConfig
    from microdeduplication_spark.pipeline import run_pipeline
    from microdeduplication_spark.sources.files_source import read_files
    from microdeduplication_spark.statistics import (
        cluster_size_histogram,
        dedup_summary,
    )

    spark = SparkSession.builder.appName("microdeduplication-run").getOrCreate()

    overrides = {
        k: getattr(args, k)
        for k in ("shingle_k", "jaccard_threshold", "bucket_cap",
                  "bucket_drop", "simhash_tables", "simhash_block_combo",
                  "hamming_threshold")
        if getattr(args, k) is not None
    }
    cfg = DedupConfig(**overrides)

    langs = args.langs.split(",") if args.langs else None
    if args.input.startswith("table:"):
        files = read_files(spark, table=args.input[len("table:"):], langs=langs)
    else:
        files = read_files(spark, parquet_path=args.input, langs=langs)

    res = run_pipeline(
        spark,
        files,
        cfg,
        checkpoint_dir=args.checkpoint_dir,
        passes=tuple(args.passes.split(",")),
    )
    res.clusters.write.mode("overwrite").parquet(f"{args.output}/clusters")
    res.verified.write.mode("overwrite").parquet(f"{args.output}/verified")
    cluster_size_histogram(res.clusters).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{args.output}/stats")

    summary = dedup_summary(
        spark.read.parquet(f"{args.output}/clusters")
    )
    manifest = {"config": cfg.to_dict(), "summary": summary,
                "stages": res.metrics}
    out_json = json.dumps(manifest, indent=1, default=str)
    # metrics are tiny: write via driver (works for file: and local paths;
    # on object stores use the stats table instead)
    try:
        with open(f"{args.output}/metrics.json", "w") as f:
            f.write(out_json)
    except OSError:
        print(out_json)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
