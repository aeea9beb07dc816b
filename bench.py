#!/usr/bin/env python
"""Benchmark harness — headline queries and flagship extraction throughput.

Prints ONE compact JSON line on stdout (everything else goes to stderr):
  {"metric": "headline_queries_total", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "triples_per_sec": ...}

Headline queries run at SPARK_GRAFT_SF_DIR on local[SPARK_GRAFT_CPUS];
each is timed min-of-2 (single-shot timings are noisy on a shared host).
``kg_extract_canon`` times the flagship chain (source-file triple
extraction → canonicalization → corpus aggregation) over a deterministic
synthetic repos table. The per-layer benchmark of the KG pipeline, with
the samplers' sweep and kernel rates, lives in perfbench/.

Env:
  SPARK_GRAFT_SF_DIR   input dir   (default: the sf0.1 test data)
  SPARK_GRAFT_CPUS     cores       (default: the CPUs this process may use)
  SPARK_DRIVER_MEM     driver heap (default 6g)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

N_FIXTURE_FILES = 4000      # unique synthetic source files
N_ENTITIES = 800            # ontology-vocabulary entities
NOISE_LINES = 135           # no-triple code lines per file → ~4.5 KB files
FIXTURE_PATH = (
    f"/tmp/spark_graft_bench/repos_{N_FIXTURE_FILES}x{N_ENTITIES}"
    f"n{NOISE_LINES}.parquet"
)

# headline subset of __spark_entry__.queries() — one per operator family
HEADLINE = [
    "a1_word_freq",      # tokenize + explode + groupBy (A1)
    "q1_pricing",        # scan-heavy agg (TPC-H Q1 analog)
    "w6_topk_parts",     # window top-k (W6)
    "j1_dict_lookup",    # broadcast dictionary join (J1)
    "kg_mentions",       # batched AC mention-detect UDF (G1)
    "g10_ngd",           # NGD relatedness self-join (G10)
    "minhash_lsh",       # MinHash+LSH near-dup
    "ann_cosine_topk",   # brute-force cosine top-k
    "sessions",          # sessionization window
    "token_stats",       # text-quality stats
]


def make_spark(master: str, shuffle_partitions: int):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master(master)
        .appName(f"bench-{master}")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # a driver heap that leaves the executors' Python workers room on
        # a 15 GB host (local mode runs both in one box)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM",
                                                      "6g"))
        # shuffle/spill on tmpfs: a virtio /tmp disk's seek contention
        # dominates small shuffles; a real cluster brings its own disks
        .config("spark.local.dir", "/dev/shm/spark-local")
        .config("spark.shuffle.compress", "false")
        .config("spark.shuffle.spill.compress", "false")
        # never reap idle Python workers between timed queries: a reaped
        # pool re-forks and re-imports pandas on the next query
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        .config("spark.python.worker.killOnIdleTimeout", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def _noop(df) -> None:
    """Execute fully without collecting rows to the driver."""
    df.write.format("noop").mode("overwrite").save()


def warm_python_workers(spark) -> None:
    """Fork the Python-UDF worker pool + import pandas/numpy in every
    worker BEFORE any timed query. On a loaded host, 32 simultaneous
    worker forks each importing pandas take multiple seconds — r2's
    driver artifact charged exactly that to the first mapInPandas query
    (kg_mentions 6.9 s vs 0.69 s steady-state)."""
    import pandas as pd  # noqa: F401

    def touch(it):
        import numpy  # noqa: F401
        import pandas  # noqa: F401

        for b in it:
            yield b

    (
        spark.range(0, 10_000, 1, CPUS)
        .mapInPandas(touch, "id long")
        .write.format("noop").mode("overwrite").save()
    )


def run_headline(spark) -> dict[str, float]:
    import __spark_entry__ as entry

    qs = entry.queries()
    out: dict[str, float] = {}
    for name in HEADLINE:
        best = None
        for trial in range(2):
            # time construction + action: operators that materialize
            # eagerly (localCheckpoint inside ngd_relatedness etc.) do
            # their work at construction, so timing the action alone
            # under-reports them
            t0 = time.perf_counter()
            _noop(qs[name](spark, SF_DIR))
            dt = time.perf_counter() - t0
            print(f"[headline] {name} trial {trial}: {dt:.3f}s "
                  f"load {os.getloadavg()[0]:.1f}", file=sys.stderr)
            best = dt if best is None or dt < best else best
        out[name] = round(best, 3)
    return out


# ---------------------------------------------- flagship extraction job
def _extract_job(spark, repos, vocab_pdf):
    """The timed flagship chain: extract → canonicalize → corpus agg."""
    import pyspark.sql.functions as F

    from entitysummarization_spark.operators.canonicalize import canonical_triples
    from entitysummarization_spark.operators.extraction import extract_triples

    triples = extract_triples(spark, repos, vocab_pdf)
    canon = canonical_triples(triples)
    return canon.agg(
        F.count("*").alias("n_facts"), F.sum("freq").alias("n_triples")
    )


def ensure_fixture() -> "object":
    """Generate the deterministic repos fixture once; cache as parquet."""
    from entitysummarization_spark.fixtures import make_fixture

    fx = make_fixture(n_files=N_FIXTURE_FILES, seed=42,
                      n_entities=N_ENTITIES, noise_lines=NOISE_LINES)
    if not os.path.exists(FIXTURE_PATH):
        os.makedirs("/tmp/spark_graft_bench", exist_ok=True)
        fx.repos.to_parquet(FIXTURE_PATH, index=False)
    return fx


def main() -> None:
    t_all = time.perf_counter()
    fx = ensure_fixture()
    spark = make_spark(f"local[{CPUS}]", CPUS)
    try:
        warm_python_workers(spark)
        queries = run_headline(spark)
        # flagship extraction throughput
        repos = spark.read.parquet(FIXTURE_PATH).repartition(CPUS * 2).persist()
        repos.count()
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            row = _extract_job(spark, repos, fx.vocab).collect()[0]
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        queries["kg_extract_canon"] = round(best, 3)
        triples_per_sec = round(int(row["n_triples"]) / best, 1)
    finally:
        spark.stop()

    result = {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "triples_per_sec": triples_per_sec,
        "wall_total_sec": round(time.perf_counter() - t_all, 1),
    }
    line = json.dumps(result)
    print(f"[final-line] {len(line)} bytes", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
