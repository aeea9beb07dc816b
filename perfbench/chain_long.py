"""chain_long: the M1 DistributedGibbs chain at reference P and W.

M1 runs on the synthetic corpus of ``scripts/bench_delta_refresh.py``
(each predicate owns an overlapping block of words; each doc mixes 1-3
predicates): P=264, W=4000, 20k docs, ~400k tokens. One pass is the chain
from the corpus DataFrame through init and 8 sweeps to θ/φ; the sweep
layer and the posteriors do almost all the work, extraction none.

The traced run also measures the M4 DistributedEntLda2, M6
DistributedOntoPart and M7 DistributedLodLda layers, on the generators of
``scripts/bench_m4_m7.py`` scaled down to about one second per sweep, and
the native kernel alone on one partition of the chain.
"""

from __future__ import annotations

import os
import time
from statistics import median

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from entitysummarization_spark.models import native_kernel
from entitysummarization_spark.models.entlda2 import (
    DistributedEntLda2, EntLda2Config,
)
from entitysummarization_spark.models.gibbs import DistributedGibbs, GibbsConfig
from entitysummarization_spark.models.lodlda import (
    DistributedLodLda, LodLdaConfig,
)
from entitysummarization_spark.models.ontopart import (
    DistributedOntoPart, OntoPartConfig,
)

from .common import (
    cached_inputs, chain_checks, digest, flat_state, neg_loglik_per_token,
    release_cached, sweep_counts,
)
from .trace import Tracer

P, W, TOKENS_PER_DOC = 264, 4000, 18
BASE_SEED = 11
# (docs, sweeps); each warm-up runs the same code on a smaller size. A
# 500-doc, 1-sweep warm-up left the first measured pass ~25% slow.
M1_FULL, M1_WARM = (20_000, 8), (5_000, 2)
SIB_FULL, SIB_WARM = (600, 2), (100, 1)    # docs (M4, M6) and users (M7)
T = 8                                   # sibling topics
M4_W, M4_E, M4_WORDS, M4_CANDS = 2000, 500, 25, 5
M6_C = 40
M7_M, M7_FEAT, M7_CTX, M7_RATINGS = 500, 200, 5, 20
NATIVE_REPS = 20


def m1_tables(n_docs: int, seed: int) -> dict[str, pd.DataFrame]:
    """bench_delta_refresh.synth_corpus, vectorized."""
    rng = np.random.RandomState(seed)
    step = W // P
    block = step + 8                    # overlapping word blocks
    k = 1 + rng.randint(3, size=n_docs)
    p0 = rng.randint(P, size=n_docs)
    d1 = 1 + rng.randint(P - 1, size=n_docs)
    d2 = 1 + rng.randint(P - 2, size=n_docs)
    d2 += d2 >= d1                      # three distinct predicates per doc
    preds = np.stack([p0, (p0 + d1) % P, (p0 + d2) % P], axis=1)
    slot_pred = preds[np.arange(3)[None, :] < k[:, None]]
    slot_doc = np.repeat(np.arange(n_docs), k)
    slot_n = np.repeat(TOKENS_PER_DOC // k + 1, k)
    tok_doc = np.repeat(slot_doc, slot_n)
    tok_w = (np.repeat(slot_pred, slot_n) * step
             + rng.randint(block, size=tok_doc.size)) % W
    key, freq = np.unique(tok_doc * W + tok_w, return_counts=True)
    corpus = pd.DataFrame({"doc_id": key // W, "word_id": key % W,
                           "freq": freq.astype(np.int32)})
    words = (np.arange(P)[:, None] * step + np.arange(block)[None, :]) % W
    cand: dict[int, list[int]] = {}
    for p, ws in enumerate(words):
        for w in ws:
            cand.setdefault(int(w), []).append(p)
    obj_pred = pd.DataFrame({"word_id": list(cand),
                             "pred_ids": [sorted(v) for v in cand.values()]})
    return {"m1_corpus": corpus, "m1_obj_pred": obj_pred}


def sibling_tables(n: int, seed: int) -> dict[str, pd.DataFrame]:
    """bench_m4_m7's M4/M7 generators, plus an M6 class map in the shape
    of fixtures/samplers.m6_class_rows; ``n`` docs (M4, M6) and users
    (M7)."""
    rng = np.random.RandomState(seed)

    def corpus() -> pd.DataFrame:
        return pd.DataFrame({
            "doc_id": np.repeat(np.arange(n), M4_WORDS),
            "word_id": rng.randint(0, M4_W, size=n * M4_WORDS),
            "freq": rng.randint(1, 3, size=n * M4_WORDS).astype(np.int32),
        })

    m4_corpus = corpus()
    doc_ent = pd.DataFrame({
        "doc_id": np.repeat(np.arange(n), M4_CANDS),
        "ent_id": rng.randint(0, M4_E, size=n * M4_CANDS),
        "rel_ent_id": rng.randint(0, M4_E, size=n * M4_CANDS),
        "sr": rng.rand(n * M4_CANDS).round(3),
    })
    m6_corpus = corpus()
    w = np.arange(M4_W)
    class_word = pd.DataFrame({
        "class_id": np.concatenate([w % M6_C, (w + 1) % M6_C]),
        "word_id": np.concatenate([w, w]),
    }).drop_duplicates().sort_values(["class_id", "word_id"])
    ratings = pd.DataFrame({
        "user_id": np.repeat(np.arange(n), M7_RATINGS),
        "movie_id": rng.randint(0, M7_M, size=n * M7_RATINGS),
    })
    ctx = pd.DataFrame({
        "movie_id": np.repeat(np.arange(M7_M), M7_CTX),
        "slot": np.tile(np.arange(M7_CTX), M7_M).astype(np.int32),
        "feature_id": rng.randint(0, M7_FEAT, size=M7_M * M7_CTX),
    })
    return {"m4_corpus": m4_corpus, "m4_doc_ent": doc_ent,
            "m6_corpus": m6_corpus, "m6_class_word": class_word,
            "m7_ratings": ratings, "m7_ctx": ctx}


class ChainLong:
    name = "chain_long"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed

    def prepare(self) -> None:
        """Untimed, before set-up: generate and cache the inputs."""
        root = os.path.join(self.work, "inputs")
        self.paths = {}
        for docs, _ in (M1_FULL, M1_WARM):
            self.paths[docs] = cached_inputs(
                root, f"m1_d{docs}_s{self.seed}",
                lambda d=docs: m1_tables(d, self.seed))
        for n, _ in (SIB_FULL, SIB_WARM):
            self.paths[n] = cached_inputs(
                root, f"sib_n{n}_s{self.seed}",
                lambda n=n: sibling_tables(n, self.seed))

    def load_inputs(self, spark) -> None:
        self.spark = spark
        self.parts = spark.sparkContext.defaultParallelism

    def _df(self, n: int, name: str):
        return self.spark.read.parquet(self.paths[n][name])

    def warm(self) -> None:
        self.release(self._pass(M1_WARM, Tracer(self.spark, enabled=False)))

    def warm_checks(self) -> list[tuple[str, bool]]:
        return []

    # ---- one pass -----------------------------------------------------
    def run_pass(self, tracer) -> dict:
        return self._pass(M1_FULL, tracer)

    def _pass(self, size, tr) -> dict:
        """Corpus DataFrame → init → sweeps → θ/φ of the M1 chain."""
        docs, n_sweeps = size
        cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=BASE_SEED,
                          n_partitions=self.parts)
        sweeps: list[float] = []
        t0 = time.perf_counter()
        with tr.span("pass"):
            with tr.span("gibbs.init"):
                g = DistributedGibbs(
                    self.spark, self._df(docs, "m1_corpus"),
                    self._df(docs, "m1_obj_pred"), None, cfg)
                g.init_state()
            # block by block, block = the config's fusion factor
            block = max(1, cfg.sweeps_per_job)
            while g.sweeps_done < n_sweeps:
                step = min(block, n_sweeps - g.sweeps_done)
                t = time.perf_counter()
                with tr.span("gibbs.sweep", sweeps=step) as s:
                    g.run(step)
                sweeps.append(time.perf_counter() - t)
                if tr.enabled:
                    sweep_counts(s, g)
            with tr.span("gibbs.posteriors"):
                g.theta().count()
                g.phi().count()
        wall = time.perf_counter() - t0
        doc, ws, zs = flat_state(g)
        return {
            "wall_s": wall, "sweep_s": sweeps, "tokens": int(ws.size),
            "n_sweeps": n_sweeps, "nll": neg_loglik_per_token(g, doc, ws, zs),
            "digest": digest(ws, zs, g.nwp), "g": g, "state": (ws, zs),
        }

    def check(self, p: dict) -> list[tuple[str, bool]]:
        ws, zs = p["state"]
        return chain_checks(p["g"], ws, zs)

    def release(self, p: dict) -> None:
        p["g"].close()
        release_cached(self.spark)

    # ---- traced run only ----------------------------------------------
    def traced_extras(self, tr, p: dict):
        """The single-core kernel baseline on the traced chain, and the
        M4/M6/M7 sibling samplers (warmed untraced on the small inputs,
        then traced on the full ones). Returns (metrics, checks)."""
        metrics = self.native_baseline(p)
        self._siblings(SIB_WARM, Tracer(self.spark, enabled=False))
        checks = self._siblings(SIB_FULL, tr)
        release_cached(self.spark)
        return metrics, checks

    def _siblings(self, size, tr) -> list[tuple[str, bool]]:
        n, n_sweeps = size
        df = lambda name: self._df(n, name)  # noqa: E731
        m4 = _run_sibling(tr, "entlda2", n_sweeps, lambda: DistributedEntLda2(
            self.spark, df("m4_corpus"), df("m4_doc_ent"),
            EntLda2Config(n_topics=T, n_entities=M4_E, n_words=M4_W,
                          n_partitions=self.parts)))
        m6 = _run_sibling(tr, "ontopart", n_sweeps, lambda: DistributedOntoPart(
            self.spark, df("m6_corpus"), df("m6_class_word"),
            OntoPartConfig(n_topics=T, n_classes=M6_C, n_words=M4_W,
                           n_partitions=self.parts)))
        m6.close()
        m7 = _run_sibling(tr, "lodlda", n_sweeps, lambda: DistributedLodLda(
            self.spark, df("m7_ratings"), df("m7_ctx"),
            LodLdaConfig(n_topics=T, n_movies=M7_M, n_features=M7_FEAT,
                         n_contexts=M7_CTX, n_partitions=self.parts)))
        m4_tok = int(pd.read_parquet(self.paths[n]["m4_corpus"],
                                     columns=["freq"])["freq"].sum())
        m6_tok = int(pd.read_parquet(self.paths[n]["m6_corpus"],
                                     columns=["freq"])["freq"].sum())
        m7_rec = n * M7_RATINGS
        nwte_total = sum(sum(v.values()) for v in m4.nwte.values())
        return [
            ("entlda2_count_totals",
             int(m4.nte.sum()) == m4_tok == int(m4.ne.sum()) == nwte_total),
            ("ontopart_count_totals",
             int(m6.nct.sum()) == m6_tok == int(m6.nwc.sum())),
            ("lodlda_count_totals",
             int(m7.nmt.sum()) == m7_rec
             and int(m7.nct.sum()) == m7_rec * M7_CTX),
        ]

    def native_baseline(self, p: dict) -> dict:
        """sweep_batch_native over one collected partition of the chain's
        final state, no Spark: the sampling share of a sweep."""
        g = p["g"]
        cfg = g.cfg
        part = (g.state.where(F.spark_partition_id() == 0)
                .select("doc_id", "words", "zs").toPandas()
                .sort_values("doc_id"))
        lens = part["words"].map(len).to_numpy(np.int64)
        doc_indptr = np.concatenate([[0], np.cumsum(lens)]).astype(np.int64)
        ws = np.concatenate(part["words"].to_list()).astype(np.int64)
        zs0 = np.concatenate(part["zs"].to_list()).astype(np.int64)
        seeds = ((cfg.base_seed * 1_000_003 + g.sweeps_done * 10_007
                  + part["doc_id"].to_numpy(np.int64) * 131)
                 % (2**32 - 1)).astype(np.uint32)
        indptr, data = native_kernel.cand_to_csr(g.cand, cfg.n_words)
        lam_beta = np.ascontiguousarray((g.lam * cfg.beta).ravel())
        slb = np.ascontiguousarray(g.sum_lam_beta)
        lib = native_kernel.load_native()
        times = []
        for _ in range(NATIVE_REPS):
            zs, nwp, np_ = zs0.copy(), g.nwp.ravel().copy(), g.np_.copy()
            nd = np.zeros(cfg.n_preds, dtype=np.int64)
            cdf = np.empty(int(np.diff(indptr).max()), dtype=np.float64)
            t = time.perf_counter()
            native_kernel.sweep_batch_native(
                lib, doc_indptr, ws, zs, seeds, cfg.n_preds, cfg.n_words,
                nwp, np_, indptr, data, lam_beta, slb, cfg.alpha_eff,
                None, None, nd, cdf)
            times.append(time.perf_counter() - t)
        return {
            "native_kernel.tokens_per_s": ws.size / median(times),
            "native_kernel.cand_evals": int(np.diff(indptr)[ws].sum()),
        }


def _run_sibling(tr, layer: str, n_sweeps: int, make):
    """Inputs → init → sweeps → posteriors of one sibling sampler."""
    with tr.span(layer, phase="init"):
        m = make()
        m.init_state()
    for _ in range(n_sweeps):
        with tr.span(layer, phase="sweep"):
            m.run(1)
    with tr.span(layer, phase="posteriors"):
        if isinstance(m, DistributedEntLda2):
            m.theta_matrix()
            m.phi()
            m.zeta().count()
        elif isinstance(m, DistributedOntoPart):
            m.theta().count()
            m.phi()
            m.zeta()
        else:
            m.theta_df().count()
            m.phi()
            m.zeta()
    return m
