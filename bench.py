#!/usr/bin/env python
"""Benchmark harness — headline queries, flagship extraction throughput
and the Gibbs sampler's sweep and kernel rates.

Prints ONE compact JSON line on stdout (everything else goes to stderr):
  {"metric": "headline_queries_total", "value": <total sec>, "unit": "sec",
   "queries": {...}, "sf": ..., "triples_per_sec": ..., "gibbs": {...}}

Headline queries run at SPARK_GRAFT_SF_DIR on local[SPARK_GRAFT_CPUS];
each is timed min-of-2 (single-shot timings are noisy on a shared host).
``kg_extract_canon`` times the flagship chain (source-file triple
extraction → canonicalization → corpus aggregation) over a deterministic
synthetic repos table; ``gibbs`` holds the per-sweep wall time of the
distributed sampler (native, reference, fused ×5) and the single-core
kernel micro-benchmark. The per-layer benchmark of the KG pipeline lives
in perfbench/.

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
def _repos_df(spark, replicate: int, n_parts: int):
    """Replicated fixture repos table with distinct per-copy paths (so the
    canonicalization key space scales with the data)."""
    import pyspark.sql.functions as F

    df = spark.read.parquet(FIXTURE_PATH)
    if replicate > 1:
        df = df.withColumn(
            "_r", F.explode(F.sequence(F.lit(0), F.lit(replicate - 1)))
        ).withColumn("path", F.concat_ws("#", "path", "_r")).drop("_r")
    return df.repartition(n_parts).persist()


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


def kernel_micro_bench(b, P: int, W: int, n_docs: int = 20000) -> dict:
    """Single-core raw kernel throughput, native C vs its interpreted
    twin (_sweep_doc_fast), on the REAL corpus (first n_docs docs
    collected once) — no Spark in the loop. This is the per-core compute
    rate a 100-TB partition sees once per-sweep fixed costs are
    amortized; parity of the two z outputs is asserted as a side
    effect."""
    import numpy as np

    from entitysummarization_spark.models import native_kernel
    from entitysummarization_spark.models.gibbs import (
        _collect_cand, _sweep_doc_fast,
    )
    from entitysummarization_spark.models.oracle import (
        doc_token_words, seed_for,
    )

    cp = (
        b.corpus.where(f"doc_id < {n_docs}")
        .toPandas().sort_values(["doc_id", "word_id"])
    )
    cand = _collect_cand(b.obj_pred)
    lam = np.ones((P, W), dtype=np.float64)
    lp = b.lam.toPandas()
    lam[lp["pred_id"].to_numpy(), lp["word_id"].to_numpy()] = (
        lp["weight"].to_numpy()
    )
    beta, alpha = 0.01, 50.0 / P
    slb = lam.sum(axis=1) * beta
    doc_ids, ws_list = [], []
    for d, gp in cp.groupby("doc_id"):
        doc_ids.append(int(d))
        ws_list.append(doc_token_words(
            gp["word_id"].to_numpy(np.int64), gp["freq"].to_numpy(np.int64)
        ))
    lens = np.fromiter((x.size for x in ws_list), np.int64, len(ws_list))
    doc_indptr = np.zeros(len(ws_list) + 1, dtype=np.int64)
    np.cumsum(lens, out=doc_indptr[1:])
    ws_flat = np.concatenate(ws_list)
    n_tok = int(ws_flat.size)
    rng = np.random.RandomState(0)
    zs0 = np.fromiter(
        (cand[w][rng.randint(len(cand[w]))] for w in ws_flat),
        np.int64, n_tok,
    )
    nwp0 = np.zeros((P, W), dtype=np.int64)
    np.add.at(nwp0, (zs0, ws_flat), 1)
    seeds = np.fromiter(
        (seed_for(11, 0, d) for d in doc_ids), np.int64, len(doc_ids)
    )
    out = {"docs": len(doc_ids), "tokens": n_tok}

    lib = native_kernel.load_native()
    zs_n = None
    if lib is not None:
        ci, cd = native_kernel.cand_to_csr(cand, W)
        lam_beta = np.ascontiguousarray((lam * beta).ravel())
        zs_n = zs0.copy()
        nwp_n, np_n = nwp0.ravel().copy(), nwp0.sum(axis=1)
        t0 = time.perf_counter()
        native_kernel.sweep_batch_native(
            lib, doc_indptr, ws_flat, zs_n, seeds.astype(np.uint32), P, W,
            nwp_n, np_n, ci, cd, lam_beta, slb, alpha, None, None,
            np.zeros(P, np.int64), np.empty(max(P, 1)),
        )
        dt = time.perf_counter() - t0
        out["native_tok_per_sec"] = round(n_tok / dt, 1)

    zs_f = zs0.copy()
    nwp_f, np_f = nwp0.ravel().copy(), [int(x) for x in nwp0.sum(axis=1)]
    cache: dict = {}
    rng0 = np.random.RandomState(0)
    t0 = time.perf_counter()
    for j in range(len(doc_ids)):
        s, e = doc_indptr[j], doc_indptr[j + 1]
        ws_l, zs_l = ws_flat[s:e].tolist(), zs_f[s:e].tolist()
        nd = [0] * P
        for p in zs_l:
            nd[p] += 1
        rng0.seed(int(seeds[j]))
        _sweep_doc_fast(
            ws_l, zs_l, nd, nwp_f, np_f, W, cache, cand, lam, slb, beta,
            alpha, None, P * alpha, rng0,
        )
        zs_f[s:e] = zs_l
    dt = time.perf_counter() - t0
    out["twin_tok_per_sec"] = round(n_tok / dt, 1)
    if zs_n is not None:
        assert np.array_equal(zs_n, zs_f), "kernel parity violated in bench"
        out["kernel_speedup"] = round(
            out["native_tok_per_sec"] / out["twin_tok_per_sec"], 2
        )
    print(f"[gibbs] kernel-micro single-core: {out}", file=sys.stderr)
    return out


def gibbs_sweep_bench(spark, fx, replicate: int = 100,
                      n_partitions: int = 8) -> dict:
    """Per-sweep wall time of the distributed sampler — native C vs the
    reference kernel — on the extraction corpus (min-of-3 sweeps each),
    plus the single-core kernel micro-benchmark (which times the
    interpreted twin).

    n_partitions=8 (not CPUS) so each partition carries ~500 k tokens —
    the 100-TB-realistic regime where per-partition kernel compute
    dominates the fixed per-sweep Spark cost (one fused
    mapInArrow-sweep + checkpoint + delta-refresh job, ~0.4 s at this
    fixture).
    End-to-end time still includes that fixed cost, so the e2e ratio
    under-states the pure kernel speedup — kernel_micro reports the
    single-core compute rate that dominates at real partition sizes."""
    import pyspark.sql.functions as F

    from entitysummarization_spark.models.gibbs import (
        DistributedGibbs,
        GibbsConfig,
    )
    from entitysummarization_spark.operators.canonicalize import (
        canonical_triples,
    )
    from entitysummarization_spark.operators.corpus import build_corpus
    from entitysummarization_spark.operators.extraction import extract_triples

    repos = _repos_df(spark, replicate, CPUS * 2)
    canon = canonical_triples(extract_triples(spark, repos, fx.vocab)).persist()
    b = build_corpus(canon)
    P, W = b.preds.count(), b.words.count()
    n_tokens = int(b.corpus.agg(F.sum("freq")).collect()[0][0])
    out = {"tokens": n_tokens, "n_preds": P, "n_words": W,
           "n_partitions": n_partitions}
    for kern in ("native", "reference"):
        cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11,
                          n_partitions=n_partitions, kernel=kern)
        g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
        g.init_state()
        best = None
        for _ in range(3):
            t0 = time.perf_counter()
            g.sweep()
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        g.close()
        out[f"sweep_sec_{kern}"] = round(best, 3)
        print(f"[gibbs] kernel={kern} sweep {best:.3f}s "
              f"({n_tokens / best:.0f} tok/s)", file=sys.stderr)
    out["tok_per_sec_native"] = round(n_tokens / out["sweep_sec_native"], 1)
    out["e2e_speedup"] = round(
        out["sweep_sec_reference"] / out["sweep_sec_native"], 2
    )
    # fused blocks (sweeps_per_job=5): K sweeps in ONE job amortize the
    # fixed per-job term (launch + Arrow transfer + checkpoint) that
    # dominates the unfused native sweep at late chain. Per-sweep time =
    # best block / 5; exactness anchors in tests/test_gibbs_fused.py.
    K = 5
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11,
                      n_partitions=n_partitions, kernel="native",
                      sweeps_per_job=K)
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g.init_state()
    best = None
    for _ in range(3):
        t0 = time.perf_counter()
        g.sweep(n_fused=K)
        dt = (time.perf_counter() - t0) / K
        best = dt if best is None or dt < best else best
    g.close()
    out["sweep_sec_native_fused5"] = round(best, 3)
    out["tok_per_sec_native_fused5"] = round(n_tokens / best, 1)
    print(f"[gibbs] kernel=native fused5 sweep {best:.3f}s "
          f"({n_tokens / best:.0f} tok/s)", file=sys.stderr)
    out["kernel_micro"] = kernel_micro_bench(b, int(P), int(W))
    canon.unpersist()
    repos.unpersist()
    return out


def main() -> None:
    t_all = time.perf_counter()
    fx = ensure_fixture()
    spark = make_spark(f"local[{CPUS}]", CPUS)
    try:
        warm_python_workers(spark)
        queries = run_headline(spark)
        # flagship extraction throughput at the driver SF (unreplicated)
        repos = _repos_df(spark, 1, CPUS * 2)
        repos.count()
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            row = _extract_job(spark, repos, fx.vocab).collect()[0]
            dt = time.perf_counter() - t0
            best = dt if best is None or dt < best else best
        queries["kg_extract_canon"] = round(best, 3)
        triples_per_sec = round(int(row["n_triples"]) / best, 1)
        repos.unpersist()
        gibbs = gibbs_sweep_bench(spark, fx)
    finally:
        spark.stop()

    result = {
        "metric": "headline_queries_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "queries": queries,
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "triples_per_sec": triples_per_sec,
        "gibbs": gibbs,
        "wall_total_sec": round(time.perf_counter() - t_all, 1),
    }
    line = json.dumps(result)
    print(f"[final-line] {len(line)} bytes", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
