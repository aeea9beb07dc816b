#!/usr/bin/env python
"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (the north-rule deployment shape):

    python -m zipfile -c /tmp/esum_spark.zip entitysummarization_spark
    spark-submit --py-files /tmp/esum_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        scripts/run_pipeline.py \
        --input /path/to/repos_table --output /path/to/out \
        --sweeps 50 --partitions 512 --checkpoint-every 10

Local smoke (no cluster):

    python scripts/run_pipeline.py --fixture 200 --output /tmp/kg_out

The input is any table readable by spark.read.parquet with columns
(repo, path, commit, lang, content); on Iceberg deployments point
--input at the table path (spark.read.format("iceberg")) — the pipeline
only consumes a DataFrame.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="parquet/iceberg path of the repos table")
    ap.add_argument("--fixture", type=int, default=0,
                    help="use the deterministic synthetic fixture of N files")
    ap.add_argument("--output", required=True)
    ap.add_argument("--sweeps", type=int, default=20)
    ap.add_argument("--k", type=int, default=5)
    ap.add_argument("--partitions", type=int, default=0,
                    help="sampler partitions (0 → defaultParallelism)")
    ap.add_argument("--checkpoint-every", type=int, default=10)
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--kernel", default="native",
                    choices=["native", "reference"],
                    help="Gibbs sweep kernel (bit-identical; native runs "
                         "the reference kernel where no C compiler exists)")
    ap.add_argument("--sweeps-per-job", type=int, default=1,
                    help="fuse this many sweeps into one Spark job "
                         "(opt-in late-chain throughput mode; exact "
                         "counts at block boundaries, AD-LDA staleness "
                         "across the block — see PLANS.md close-out)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("kg-pipeline")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from entitysummarization_spark.plans.checkpoint import save_checkpoint
    from entitysummarization_spark.plans.pipeline import materialize, run_pipeline

    vocab = None
    if args.fixture:
        from entitysummarization_spark.fixtures import make_fixture

        fx = make_fixture(n_files=args.fixture, seed=42)
        repos = spark.createDataFrame(fx.repos)
        vocab = fx.vocab
    else:
        repos = spark.read.parquet(args.input)

    n_parts = args.partitions or spark.sparkContext.defaultParallelism
    ck_dir = os.path.join(args.output, "checkpoints")
    result = run_pipeline(
        spark, repos, vocab=vocab, n_sweeps=args.sweeps, k=args.k,
        base_seed=args.seed, n_partitions=n_parts, kernel=args.kernel,
        sweeps_per_job=args.sweeps_per_job,
        # mid-run resume points every k sweeps (a long sweep schedule
        # restarts from the last saved sweep, not from zero)
        checkpoint_dir=ck_dir, checkpoint_every=args.checkpoint_every,
    )
    if result.gibbs is not None and args.checkpoint_every <= 0:
        # chunked runs already saved after the final chunk
        save_checkpoint(result.gibbs, ck_dir)
    materialize(result, args.output, repos=repos)
    print(f"wrote {args.output}: triples={result.canon.count()}, "
          f"summaries={result.summaries.count()}")
    spark.stop()


if __name__ == "__main__":
    main()
