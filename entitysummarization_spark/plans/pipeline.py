"""End-to-end KG-construction pipeline (EP1 lifecycle, SURVEY.md §3).

repos scan → extract_triples (mapInPandas) → canonicalize (groupBy)
→ corpus + constraint maps → distributed constrained Gibbs → θ/φ →
top-k summaries. Optional materialization to partitioned Parquet
(Iceberg-layout fallback — no Iceberg runtime jar in this sandbox) with
per-partition lineage rows.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..models.chain import partition_totals
from ..models.gibbs import DistributedGibbs, GibbsConfig
from ..operators.canonicalize import canonical_triples
from ..operators.corpus import Corpus, build_corpus
from ..operators.extraction import extract_triples
from ..operators.summary import top_k_facts


@dataclass
class PipelineResult:
    triples: DataFrame
    canon: DataFrame
    corpus: Corpus
    theta: DataFrame
    phi: DataFrame
    summaries: DataFrame
    gibbs: DistributedGibbs | None


def run_pipeline(
    spark: SparkSession,
    repos: DataFrame,
    vocab: pd.DataFrame | None = None,
    entity_category: DataFrame | None = None,
    n_sweeps: int = 20,
    k: int = 5,
    base_seed: int = 7,
    n_partitions: int = 8,
    alpha: float | None = None,
    beta: float = 0.01,
    min_word_freq: int = 1,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 0,
    kernel: str = "native",
    sweeps_per_job: int = 1,
) -> PipelineResult:
    """``checkpoint_dir`` + ``checkpoint_every=k`` saves the sampler state
    every k sweeps (north-rule resume: a killed run restarts from the last
    saved sweep via plans.checkpoint.load_checkpoint, bit-identical)."""
    triples = extract_triples(spark, repos, vocab)
    canon = canonical_triples(triples).persist()
    bundle = build_corpus(canon, entity_category=entity_category,
                          min_word_freq=min_word_freq)

    if bundle.n_preds == 0 or bundle.n_words == 0:
        # empty input → empty outputs with stable schemas (no sampler run)
        empty_theta = spark.createDataFrame([], "doc_id long, pred_id long, theta double")
        empty_phi = spark.createDataFrame([], "pred_id long, word_id long, phi double")
        empty_sum = spark.createDataFrame(
            [], "doc_id long, subj string, rank int, pred string, obj string,"
                " theta double, phi double, score double")
        return PipelineResult(triples=triples, canon=canon, corpus=bundle,
                              theta=empty_theta, phi=empty_phi,
                              summaries=empty_sum, gibbs=None)
    cfg = GibbsConfig(
        n_preds=bundle.n_preds, n_words=bundle.n_words, alpha=alpha, beta=beta,
        base_seed=base_seed, n_partitions=n_partitions, kernel=kernel,
        sweeps_per_job=sweeps_per_job,
    )
    gibbs = DistributedGibbs(spark, bundle.corpus, bundle.obj_pred, bundle.lam, cfg)
    if checkpoint_dir and checkpoint_every > 0:
        # run(0) still initializes, so a 0-sweep run leaves a sweep-0
        # resume point: downstream tooling expects checkpoint_dir filled
        for done in range(0, max(n_sweeps, 1), checkpoint_every):
            gibbs.run(min(checkpoint_every, n_sweeps - done))
            gibbs.save(checkpoint_dir)
    else:
        gibbs.run(n_sweeps)

    fact_pairs = bundle.facts.select("doc_id", "pred_id").distinct()
    theta = gibbs.theta(for_pairs=fact_pairs)
    phi = gibbs.phi()
    summaries = top_k_facts(bundle.facts, theta, phi, k=k)
    return PipelineResult(
        triples=triples, canon=canon, corpus=bundle,
        theta=theta, phi=phi, summaries=summaries, gibbs=gibbs,
    )


def content_invariant(repos: DataFrame) -> DataFrame:
    """Per-row content invariant (BASELINE.json input_hint): the sha256 of
    every input file's content, keyed by (repo, path, commit). The pipeline
    never mutates content; writing this table alongside each run lets any
    consumer verify byte-equality against the source scan — the Spark-side
    analog of the reference comparing its inputs across stages."""
    return repos.select(
        "repo", "path", "commit",
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    )


def materialize(
    result: PipelineResult, out_dir: str, repos: DataFrame | None = None
) -> None:
    """Partitioned Parquet layout (Iceberg-style): triples partitioned by
    pred (partition pruning for per-predicate consumers), summaries by
    rank-bucket; lineage rows per output partition; the sha256 content
    invariant table when the source scan is provided."""
    if repos is not None:
        content_invariant(repos).write.mode("overwrite").parquet(
            f"{out_dir}/content_invariant"
        )
    result.canon.write.mode("overwrite").partitionBy("pred").parquet(
        f"{out_dir}/triples"
    )
    result.theta.write.mode("overwrite").parquet(f"{out_dir}/entity_topic")
    result.phi.write.mode("overwrite").parquet(f"{out_dir}/topic_word")
    result.summaries.write.mode("overwrite").parquet(f"{out_dir}/summaries")
    lineage = partition_totals(
        result.canon, F.col("freq"), "n_rows", "n_facts")
    lineage.write.mode("overwrite").parquet(f"{out_dir}/lineage")


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int = 64,
                   path: str | None = None) -> None:
    """Hash-bucketed, per-bucket-sorted parquet table (catalog-registered;
    ``path`` makes it external so tests keep storage out of the warehouse).

    Bucketing is the 100-TB co-location lever the plain `materialize`
    layout can't give: two tables bucketed on the same key with the same
    bucket count join WITHOUT an Exchange (each task reads matching
    buckets from both sides), and per-key aggregations read pre-clustered
    data. On a 1000-executor cluster this removes the canon↔summaries /
    canon↔theta shuffle from every downstream per-entity consumer — the
    shuffle is paid ONCE at write time instead of per query.
    """
    w = (df.write.mode("overwrite").format("parquet")
         .bucketBy(n_buckets, key).sortBy(key))
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)
