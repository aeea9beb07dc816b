#!/usr/bin/env python
"""Measured sweep throughput for the two late-landed model variants —
M4 EntLDA2 (models/entlda2.py) and M7 LodLda (models/lodlda.py) — at
sizes large enough that per-sweep fixed cost (job launch + checkpoint)
does not dominate, mirroring how M1/M6 throughput is recorded in
BENCH.md. Deterministic synthetic fixtures (seeded NumPy), local[nproc]
(``get_spark``'s default; SPARK_GRAFT_CPUS overrides it).

Run from the repo root: python scripts/bench_m4_m7.py
Prints one JSON line per model.

Sizes are chosen for the models' very different per-unit cost: an M4
token draws over a |cands|x T grid with a sparse-Nwte slice rebuild
(the heaviest interpreted kernel in the repo), an M7 record draws one
T-vector — so M4 runs ~300k tokens and M7 ~1M records.
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from entitysummarization_spark.session import get_spark  # noqa: E402
from entitysummarization_spark.models.entlda2 import (  # noqa: E402
    DistributedEntLda2, EntLda2Config,
)
from entitysummarization_spark.models.lodlda import (  # noqa: E402
    DistributedLodLda, LodLdaConfig,
)

SWEEPS = 3


def bench_m4(spark) -> dict:
    rng = np.random.RandomState(41)
    D, W, E, T = 8000, 2000, 500, 8
    words_per_doc, cands_per_doc = 25, 5
    doc_ids = np.repeat(np.arange(D), words_per_doc)
    word_ids = rng.randint(0, W, size=D * words_per_doc)
    freqs = rng.randint(1, 3, size=D * words_per_doc)
    corpus_df = spark.createDataFrame(pd.DataFrame(
        {"doc_id": doc_ids, "word_id": word_ids,
         "freq": freqs.astype("int32")}
    ))
    # each doc: cands_per_doc candidate entities, each with one SR
    # neighbour row (entity graph shared across docs)
    de_doc = np.repeat(np.arange(D), cands_per_doc)
    de_ent = rng.randint(0, E, size=D * cands_per_doc)
    de_rel = rng.randint(0, E, size=D * cands_per_doc)
    de_sr = rng.rand(D * cands_per_doc).round(3)
    doc_ent = spark.createDataFrame(pd.DataFrame(
        {"doc_id": de_doc, "ent_id": de_ent,
         "rel_ent_id": de_rel, "sr": de_sr}
    ))
    n_tokens = int(freqs.sum())
    cfg = EntLda2Config(n_topics=T, n_entities=E, n_words=W,
                        burn_in=2, n_partitions=8)
    m = DistributedEntLda2(spark, corpus_df, doc_ent, cfg)
    t0 = time.perf_counter()
    m.init_state()
    t_init = time.perf_counter() - t0
    times = []
    for _ in range(SWEEPS):
        t0 = time.perf_counter()
        m.run(1)
        times.append(time.perf_counter() - t0)
    best = min(times)
    return {
        "model": "m4_entlda2", "docs": D, "tokens": n_tokens,
        "entities": E, "topics": T, "vocab": W, "n_partitions": 8,
        "init_sec": round(t_init, 3),
        "sweep_sec": [round(t, 3) for t in times],
        "sweep_sec_best": round(best, 3),
        "tok_per_sec": round(n_tokens / best, 1),
    }


def bench_m7(spark) -> dict:
    rng = np.random.RandomState(43)
    U, M, FEAT, C, T = 20000, 2000, 500, 5, 8
    ratings_per_user = 50
    u_col = np.repeat(np.arange(U), ratings_per_user)
    m_col = rng.randint(0, M, size=U * ratings_per_user)
    ratings = spark.createDataFrame(pd.DataFrame(
        {"user_id": u_col, "movie_id": m_col}
    ))
    ctx_rows = pd.DataFrame({
        "movie_id": np.repeat(np.arange(M), C),
        "slot": np.tile(np.arange(C), M).astype("int32"),
        "feature_id": rng.randint(0, FEAT, size=M * C),
    })
    movie_ctx = spark.createDataFrame(ctx_rows)
    n_records = U * ratings_per_user
    cfg = LodLdaConfig(n_topics=T, n_movies=M, n_features=FEAT,
                       n_contexts=C, n_partitions=8)
    m = DistributedLodLda(spark, ratings, movie_ctx, cfg)
    t0 = time.perf_counter()
    m.init_state()
    t_init = time.perf_counter() - t0
    times = []
    for _ in range(SWEEPS):
        t0 = time.perf_counter()
        m.run(1)
        times.append(time.perf_counter() - t0)
    best = min(times)
    return {
        "model": "m7_lodlda", "users": U, "records": n_records,
        "movies": M, "features": FEAT, "topics": T, "n_partitions": 8,
        "init_sec": round(t_init, 3),
        "sweep_sec": [round(t, 3) for t in times],
        "sweep_sec_best": round(best, 3),
        "records_per_sec": round(n_records / best, 1),
    }


def main() -> None:
    spark = get_spark(app_name="bench-m4-m7")  # local[nproc]
    try:
        for fn in (bench_m4, bench_m7):
            print(json.dumps(fn(spark)), flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
