"""Single-process pandas/NumPy oracle for the FULL KG pipeline.

Independently re-computes what plans/pipeline.run_pipeline produces on the
deterministic repos fixture — extraction (the same pure-pandas batch
function the Spark job maps), canonicalization (groupby count), sorted
dense IDs, corpus/constraint maps, the partitioned AD-LDA Gibbs sweep
(models/oracle.GibbsOracle with Spark's exact murmur3 doc→partition
assignment), posteriors, and the top-k fact ranking — WITHOUT a
SparkSession. Because every step is deterministic, the distributed
4-partition pipeline must match this oracle bit-for-bit; __spark_entry__
inlines the result as the DuckDB golden-VALUES oracle for
``kg_pipeline_summaries``, turning the one formerly rows-only query into a
rows+schema+hash gate.

Rounding discipline: Spark's ``F.round`` is Java BigDecimal HALF_UP over
``Double.toString`` (shortest round-trip decimal — same digits as Python
``repr``), which differs from NumPy's banker's rounding on half-way
values; ``java_round`` replicates it exactly. θ (computed in Spark SQL)
uses java_round; φ (computed driver-side in NumPy by DistributedGibbs.phi)
uses ``np.round`` — the oracle mirrors each path with the matching
rounding.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from ..fixtures import make_fixture
from ..functions.automaton import AhoCorasick, tokenize
from ..functions.murmur3 import partition_of_long
from ..operators.extraction import MENTION_MAX_ATTR, extract_triples_pdf
from .oracle import GibbsOracle


def java_round(x: float, scale: int) -> float:
    """Spark/Java ``round(double, scale)``: BigDecimal.valueOf(x)
    (== Decimal(repr(x)) — both parse the shortest round-trip decimal)
    .setScale(scale, HALF_UP)."""
    q = Decimal(1).scaleb(-scale)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def pipeline_oracle(
    n_files: int = 60,
    seed: int = 42,
    n_sweeps: int = 3,
    k: int = 3,
    n_partitions: int = 4,
    base_seed: int = 7,
    beta: float = 0.01,
) -> dict:
    """Returns {"summaries": DataFrame, "canon": DataFrame, "n_preds",
    "n_words", "z": {doc_id: ndarray}} — the exact expected output of
    run_pipeline(fixture(n_files, seed), vocab, n_sweeps, k, n_partitions).
    """
    fx = make_fixture(n_files=n_files, seed=seed)
    sub = fx.vocab[fx.vocab["attr"] <= MENTION_MAX_ATTR]
    patterns = [" ".join(tokenize(s)) for s in sub["surface"]]
    ac = AhoCorasick(patterns)
    s2n = dict(zip(patterns, sub["entity_name"]))

    triples = extract_triples_pdf(fx.repos, ac, s2n)
    canon = (
        triples.groupby(["subj", "pred", "obj"], as_index=False)
        .size()
        .rename(columns={"size": "freq"})
    )

    # sorted dense IDs (canonicalize.dense_ids semantics: rank in sorted
    # name order, 0-based)
    doc_of = {s: i for i, s in enumerate(sorted(canon["subj"].unique()))}
    pred_of = {p: i for i, p in enumerate(sorted(canon["pred"].unique()))}
    word_of = {o: i for i, o in enumerate(sorted(canon["obj"].unique()))}
    P, W = len(pred_of), len(word_of)

    facts = canon.assign(
        doc_id=canon["subj"].map(doc_of).astype("int64"),
        pred_id=canon["pred"].map(pred_of).astype("int64"),
        word_id=canon["obj"].map(word_of).astype("int64"),
        freq=canon["freq"].astype("int64"),
    )

    corpus_df = facts.groupby(["doc_id", "word_id"], as_index=False)["freq"].sum()
    corpus: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    for d, grp in corpus_df.groupby("doc_id"):
        corpus[int(d)] = (
            grp["word_id"].to_numpy(np.int64),
            grp["freq"].to_numpy(np.int64),
        )
    cand = {
        int(w): np.asarray(sorted(g["pred_id"].unique()), dtype=np.int64)
        for w, g in facts.groupby("word_id")
    }

    g = GibbsOracle(
        corpus, cand, n_preds=P, n_words=W, lam=None, alpha=None, beta=beta,
        base_seed=base_seed, n_partitions=n_partitions,
        partition_of=(lambda d: partition_of_long(d, n_partitions))
        if n_partitions > 1 else None,
    )
    g.run(n_sweeps)
    s = g.state
    a = g.alpha

    # θ per observed (doc, pred) fact pair — Spark-SQL double arithmetic +
    # java_round(…, 4) (gibbs.DistributedGibbs.theta)
    # φ — driver-side NumPy np.round (DistributedGibbs.phi); GibbsOracle's
    # compute_posteriors already matches it (s.phi)
    rows = []
    for rec in facts.itertuples(index=False):
        d, p, w = int(rec.doc_id), int(rec.pred_id), int(rec.word_id)
        nd = len(s.tokens[d])
        npd = int(s.npd[d][p])
        theta = java_round((float(npd) + a) / (float(nd) + P * a), 4)
        phi = float(s.phi[p, w])
        score = java_round(theta * phi, 8)
        rows.append((d, rec.subj, rec.pred, rec.obj, p, w, theta, phi, score))
    scored = pd.DataFrame(
        rows,
        columns=["doc_id", "subj", "pred", "obj", "pred_id", "word_id",
                 "theta", "phi", "score"],
    )
    # top_k_facts ranking: desc score, asc pred_id, asc word_id per doc
    scored = scored.sort_values(
        ["doc_id", "score", "pred_id", "word_id"],
        ascending=[True, False, True, True],
        kind="mergesort",
    )
    scored["rank"] = scored.groupby("doc_id").cumcount() + 1
    summaries = scored[scored["rank"] <= k][
        ["doc_id", "subj", "rank", "pred", "obj", "theta", "phi", "score"]
    ].reset_index(drop=True)
    return {
        "summaries": summaries,
        "canon": canon,
        "n_preds": P,
        "n_words": W,
        "z": {d: s.z[d].copy() for d in s.doc_ids},
        "alpha": a,
    }


def summaries_values_sql(summaries: pd.DataFrame) -> str:
    """DuckDB golden-VALUES oracle: the independently-computed expected
    summaries inlined as literals with the exact Spark output schema."""
    vals = ",\n".join(
        "({}, '{}', {}, '{}', '{}', {!r}, {!r}, {!r})".format(
            int(r.doc_id), r.subj, int(r.rank), r.pred,
            str(r.obj).replace("'", "''"),
            float(r.theta), float(r.phi), float(r.score),
        )
        for r in summaries.itertuples(index=False)
    )
    return f"""
        SELECT doc_id::BIGINT AS doc_id, subj, rank::INT AS rank, pred, obj,
               theta::DOUBLE AS theta, phi::DOUBLE AS phi,
               score::DOUBLE AS score
        FROM (VALUES {vals})
             t(doc_id, subj, rank, pred, obj, theta, phi, score)
    """


def canon_values_sql(canon) -> str:
    """DuckDB golden-VALUES oracle for the canonical-triples table — the
    independently-computed (subj, pred, obj, freq) inlined as literals,
    used to gate the STREAMING extraction twin (readStream → mapInPandas
    extract → groupBy canon must converge to the exact batch canon)."""
    vals = ",\n".join(
        "('{}', '{}', '{}', {})".format(
            str(r.subj).replace("'", "''"),
            str(r.pred).replace("'", "''"),
            str(r.obj).replace("'", "''"),
            int(r.freq),
        )
        for r in canon.itertuples(index=False)
    )
    return f"""
        SELECT subj, pred, obj, freq::BIGINT AS freq
        FROM (VALUES {vals}) t(subj, pred, obj, freq)
    """
