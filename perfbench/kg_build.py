"""kg_build: the job ``scripts/run_pipeline.py`` runs, on the repos fixture.

One pass = ``read_table`` of the repos Parquet table → ``run_pipeline``
(5 sweeps, a checkpoint every 5) with ``entity_category`` → ``materialize``
to Parquet. Extraction, canonicalization, corpus build, summaries and
writes do most of the work; the fixture has only P=4 predicates, so its
sweeps cost the per-sweep floor and little sampling.
"""

from __future__ import annotations

import inspect
import os
import time

import pandas as pd

from entitysummarization_spark.fixtures import make_fixture
from entitysummarization_spark.models.gibbs import DistributedGibbs, GibbsConfig
from entitysummarization_spark.models.pipeline_oracle import pipeline_oracle
from entitysummarization_spark.operators.canonicalize import canonical_triples
from entitysummarization_spark.operators.corpus import build_corpus
from entitysummarization_spark.operators.extraction import extract_triples
from entitysummarization_spark.operators.summary import top_k_facts
from entitysummarization_spark.plans.checkpoint import (
    latest_checkpoint, load_checkpoint, save_checkpoint,
)
from entitysummarization_spark.plans.pipeline import (
    PipelineResult, materialize, run_pipeline,
)
from entitysummarization_spark.sources.readers import read_table

from .common import (
    cached_inputs, digest, dir_bytes, flat_state, fresh_dir,
    neg_loglik_per_token, release_cached, sweep_counts,
)
from .trace import timed_calls

N_FILES = 1500          # ~7 MB of content; pass time is mostly per-job cost
N_ENTITIES = 800
NOISE_LINES = 135       # ~4.5 KB files, as bench.py used
N_SWEEPS = 5
CHECKPOINT_EVERY = 5
TOP_K = 5
# the set-up oracle run: tests/test_pipeline_oracle.py's configuration
ORACLE_FILES, ORACLE_SWEEPS, ORACLE_K, ORACLE_PARTS = 40, 2, 3, 4
# run_pipeline's defaults for what the benchmark leaves unset: the traced
# pass repeats its body and must configure the layers the same way
_DEFAULTS = {name: p.default for name, p in
             inspect.signature(run_pipeline).parameters.items()}
_GIBBS_DEFAULTS = {f: _DEFAULTS[f] for f in
                   ("alpha", "beta", "base_seed", "kernel", "sweeps_per_job")}


def _fixture_tables(n_files: int, seed: int, **kw) -> dict[str, pd.DataFrame]:
    fx = make_fixture(n_files, seed=seed, **kw)
    names = fx.vocab[["entity_id", "entity_name"]].drop_duplicates("entity_id")
    # build_corpus reads (entity_name, category); the fixture keys by id
    ec = fx.entity_category.merge(names, on="entity_id")[
        ["entity_name", "category"]]
    return {
        "repos": fx.repos,
        "vocab": fx.vocab,
        "entity_category": ec,
        "expected": fx.expected_triples[["subj", "pred", "obj"]],
    }


def _triples(df: pd.DataFrame) -> set:
    return set(zip(df["subj"], df["pred"], df["obj"]))


class KgBuild:
    name = "kg_build"

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed

    # ---- set-up -------------------------------------------------------
    def prepare(self) -> None:
        """Untimed, before set-up: generate and cache the inputs, and the
        expected outputs the checks compare against."""
        inputs = os.path.join(self.work, "inputs")
        self.main = cached_inputs(
            inputs, f"kg_n{N_FILES}_s{self.seed}",
            lambda: _fixture_tables(N_FILES, self.seed, n_entities=N_ENTITIES,
                                    noise_lines=NOISE_LINES))
        self.small = cached_inputs(
            inputs, f"kg_n{ORACLE_FILES}_s{self.seed}",
            lambda: _fixture_tables(ORACLE_FILES, self.seed))
        self.expected = _triples(pd.read_parquet(self.main["expected"]))
        self.oracle = pipeline_oracle(
            n_files=ORACLE_FILES, seed=self.seed, n_sweeps=ORACLE_SWEEPS,
            k=ORACLE_K, n_partitions=ORACLE_PARTS)

    def load_inputs(self, spark) -> None:
        self.spark = spark
        self.parts = spark.sparkContext.defaultParallelism
        self.vocab = pd.read_parquet(self.main["vocab"])
        self.ec = spark.read.parquet(self.main["entity_category"])

    def warm(self) -> None:
        """The warm pass: the full pass code on the 40-file fixture of
        tests/test_pipeline_oracle.py."""
        self._warm_out = fresh_dir(os.path.join(self.work, "kg", "warm"))
        self._warm_res = self._pipeline(
            self.small, pd.read_parquet(self.small["vocab"]), None,
            self._warm_out, ORACLE_SWEEPS, ORACLE_K, ORACLE_PARTS)

    def warm_checks(self) -> list[tuple[str, bool]]:
        """Once per run, after set-up: the warm pass is bit-identical to
        ``pipeline_oracle`` (tests/test_pipeline_oracle.py's gate)."""
        res, out, po = self._warm_res, self._warm_out, self.oracle
        z = res.gibbs.z_state()
        z_ok = set(z) == set(po["z"]) and all(
            (z[d] == po["z"][d]).all() for d in z)
        got = (pd.read_parquet(os.path.join(out, "tables", "summaries"))
               .sort_values(["doc_id", "rank"]).reset_index(drop=True))
        exp = po["summaries"].sort_values(["doc_id", "rank"]).reset_index(
            drop=True)
        sum_ok = (list(got[list(exp.columns)].itertuples(index=False))
                  == list(exp.itertuples(index=False)))
        res.gibbs.close()
        release_cached(self.spark)
        return [("oracle_pipeline_bit_identical", z_ok and sum_ok)]

    # ---- one pass -----------------------------------------------------
    def _pipeline(self, tables, vocab, ec, out, n_sweeps, k, parts):
        repos = read_table(self.spark, tables["repos"])
        res = run_pipeline(
            self.spark, repos, vocab=vocab, entity_category=ec,
            n_sweeps=n_sweeps, k=k, n_partitions=parts,
            checkpoint_dir=os.path.join(out, "checkpoints"),
            checkpoint_every=CHECKPOINT_EVERY,
        )
        materialize(res, os.path.join(out, "tables"), repos=repos)
        return res

    def run_pass(self, tracer) -> dict:
        out = fresh_dir(os.path.join(self.work, "kg", "pass"))
        sweeps: list[float] = []
        t0 = time.perf_counter()
        if tracer.enabled:
            res = self._traced(tracer, out, sweeps)
        else:
            with timed_calls(DistributedGibbs, "sweep", sweeps):
                res = self._pipeline(self.main, self.vocab, self.ec, out,
                                     N_SWEEPS, TOP_K, self.parts)
        wall = time.perf_counter() - t0
        g = res.gibbs
        doc, ws, zs = flat_state(g)
        summ = (pd.read_parquet(os.path.join(out, "tables", "summaries"))
                .sort_values(["doc_id", "rank"]).reset_index(drop=True))
        return {
            "wall_s": wall, "sweep_s": sweeps, "tokens": int(ws.size),
            "n_sweeps": N_SWEEPS, "nll": neg_loglik_per_token(g, doc, ws, zs),
            "digest": digest(ws, zs, g.nwp, pd.util.hash_pandas_object(
                summ[sorted(summ.columns)], index=False)),
            "res": res, "out": out, "summ": summ,
        }

    def _traced(self, tr, out, sweeps):
        """run_pipeline's body + materialize, one span per layer call, each
        layer forced with persist() + an action so its jobs land in its
        span. The run's ``traced_pass_equals_untraced`` check holds this
        copy to run_pipeline's output."""
        spark = self.spark
        with tr.span("pass"):
            with tr.span("readers") as s:
                repos = read_table(spark, self.main["repos"]).persist()
                s["rows_out"] = repos.count()
            with tr.span("extraction") as s:
                triples = extract_triples(spark, repos, self.vocab).persist()
                s["rows_out"] = triples.count()
            with tr.span("canonicalize") as s:
                canon = canonical_triples(triples).persist()
                s["rows_out"] = canon.count()
            with tr.span("corpus"):
                bundle = build_corpus(
                    canon, entity_category=self.ec,
                    min_word_freq=_DEFAULTS["min_word_freq"])
                for df in (bundle.corpus, bundle.facts, bundle.obj_pred,
                           bundle.lam):
                    df.persist().count()
                cfg = GibbsConfig(n_preds=bundle.preds.count(),
                                  n_words=bundle.words.count(),
                                  n_partitions=self.parts, **_GIBBS_DEFAULTS)
            with tr.span("gibbs.init"):
                g = DistributedGibbs(spark, bundle.corpus, bundle.obj_pred,
                                     bundle.lam, cfg)
                g.init_state()
            ck_dir = os.path.join(out, "checkpoints")
            block = max(1, cfg.sweeps_per_job)
            while g.sweeps_done < N_SWEEPS:
                step = min(block, N_SWEEPS - g.sweeps_done)
                t = time.perf_counter()
                with tr.span("gibbs.sweep", sweeps=step) as s:
                    g.run(step)
                sweeps.append(time.perf_counter() - t)
                sweep_counts(s, g)
                if (g.sweeps_done % CHECKPOINT_EVERY == 0
                        or g.sweeps_done == N_SWEEPS):
                    with tr.span("checkpoint") as s:
                        saved = save_checkpoint(g, ck_dir)
                    s["bytes_written"] = dir_bytes(saved)
            with tr.span("gibbs.posteriors"):
                pairs = bundle.facts.select("doc_id", "pred_id").distinct()
                theta = g.theta(for_pairs=pairs).persist()
                theta.count()
                phi = g.phi().persist()
                phi.count()
            with tr.span("summary") as s:
                summaries = top_k_facts(bundle.facts, theta, phi,
                                        k=TOP_K).persist()
                s["rows_out"] = summaries.count()
            res = PipelineResult(triples=triples, canon=canon, corpus=bundle,
                                 theta=theta, phi=phi, summaries=summaries,
                                 gibbs=g)
            tables = os.path.join(out, "tables")
            with tr.span("materialize") as s:
                materialize(res, tables, repos=repos)
            s["bytes_written"] = dir_bytes(tables)
        return res

    # ---- correctness --------------------------------------------------
    def check(self, p: dict) -> list[tuple[str, bool]]:
        res, summ = p["res"], p["summ"]
        tables = os.path.join(p["out"], "tables")
        canon = _triples(pd.read_parquet(os.path.join(tables, "triples")))
        per_subj = pd.read_parquet(
            os.path.join(tables, "triples"), columns=["subj"]
        ).value_counts().to_numpy()
        ck = load_checkpoint(
            self.spark, latest_checkpoint(os.path.join(p["out"], "checkpoints")),
            res.corpus.corpus, res.corpus.obj_pred, res.corpus.lam)
        ck_ok = (ck.sweeps_done == res.gibbs.sweeps_done
                 and (ck.nwp == res.gibbs.nwp).all())
        ck.close()
        return [
            ("golden_triples_pr_1", canon == self.expected),
            ("summary_rows", len(summ) == int((per_subj.clip(max=TOP_K)).sum())),
            ("summary_facts_observed", _triples(summ) <= canon),
            ("checkpoint_reload_nwp", bool(ck_ok)),
        ]

    def release(self, p: dict) -> None:
        p["res"].gibbs.close()
        release_cached(self.spark)
