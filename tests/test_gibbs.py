"""Sampler correctness: oracle bit-parity (1 partition), AD-LDA invariants,
checkpoint/resume bit-parity (SURVEY.md §5 items 2, 5)."""

import numpy as np
import pytest

from entitysummarization_spark.models.gibbs import DistributedGibbs, GibbsConfig
from entitysummarization_spark.models.oracle import GibbsOracle
from entitysummarization_spark.models.pipeline_oracle import java_round
from entitysummarization_spark.operators.canonicalize import canonical_triples
from entitysummarization_spark.operators.corpus import build_corpus
from entitysummarization_spark.operators.extraction import extract_triples


@pytest.fixture(scope="module")
def bundle(spark, fixture_small):
    fx = fixture_small
    repos = spark.createDataFrame(fx.repos.head(30))
    triples = extract_triples(spark, repos, fx.vocab)
    canon = canonical_triples(triples).persist()
    b = build_corpus(canon)
    P, W = b.n_preds, b.n_words
    return b, int(P), int(W)


def _oracle_inputs(b, P, W):
    cp = b.corpus.toPandas()
    corpus = {
        int(d): (g["word_id"].to_numpy(np.int64), g["freq"].to_numpy(np.int64))
        for d, g in cp.groupby("doc_id")
    }
    op = b.obj_pred.toPandas()
    cand = {
        int(w): np.asarray(sorted(ps), dtype=np.int64)
        for w, ps in zip(op["word_id"], op["pred_ids"])
    }
    lamp = b.lam.toPandas()
    lam = np.ones((P, W))
    lam[lamp["pred_id"].to_numpy(), lamp["word_id"].to_numpy()] = (
        lamp["weight"].to_numpy()
    )
    return corpus, cand, lam


def test_single_partition_bit_parity(spark, bundle):
    b, P, W = bundle
    corpus, cand, lam = _oracle_inputs(b, P, W)
    orc = GibbsOracle(corpus, cand, P, W, lam=lam, base_seed=11)
    orc.run(3)

    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11, n_partitions=1)
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g.run(3)

    zs = g.z_state()
    assert set(zs) == set(orc.state.z)
    for d in orc.state.doc_ids:
        assert np.array_equal(zs[d], orc.state.z[d]), f"doc {d}"
    assert np.array_equal(g.nwp, orc.state.nwp)


def test_multi_partition_invariants(spark, bundle):
    b, P, W = bundle
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11, n_partitions=4)
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g.run(2)
    n_tokens = b.corpus.toPandas()["freq"].sum()
    assert int(g.nwp.sum()) == int(n_tokens)          # token conservation
    assert (g.np_ == g.nwp.sum(axis=1)).all()
    # constraint respected: every sampled pred is a candidate for its word
    zs_pdf = g.state.toPandas()
    op = {int(r["word_id"]): set(r["pred_ids"]) for r in
          b.obj_pred.collect()}
    for _, row in zs_pdf.iterrows():
        for w, z in zip(row["words"], row["zs"]):
            assert int(z) in op[int(w)]


def test_theta_rows_bounded(spark, bundle):
    b, P, W = bundle
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11, n_partitions=2)
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g.run(1)
    th = g.theta().toPandas()
    assert ((th["theta"] > 0) & (th["theta"] < 1)).all()
    ph = g.phi().toPandas()
    assert ((ph["phi"] >= 0) & (ph["phi"] <= 1)).all()
    # φ rows sum ≈ 1 up to rounding (4-decimal rounding is reference behavior)
    sums = ph.groupby("pred_id")["phi"].sum()
    assert (abs(sums - 1.0) < 0.05).all()


def test_theta_for_pairs_matches_recount(spark, bundle):
    """θ for requested (doc, pred) pairs equals a NumPy recount from the
    z-state: one row per distinct pair (a duplicate request included),
    and a pred the doc never samples at its zero-count value."""
    b, P, W = bundle
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11, n_partitions=1)
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g.run(2)
    zs = g.z_state()
    d0 = next(d for d in sorted(zs) if len(set(zs[d].tolist())) < P)
    unsampled = min(set(range(P)) - set(zs[d0].tolist()))
    pairs = [(d, int(z[0])) for d, z in sorted(zs.items())[:5]]
    pairs += [pairs[0], (d0, unsampled), (d0, int(zs[d0][-1]))]
    got = g.theta(
        for_pairs=spark.createDataFrame(pairs, "doc_id long, pred_id long")
    ).collect()
    a = cfg.alpha_eff
    want = {
        (d, p): java_round(
            (int(np.count_nonzero(zs[d] == p)) + a) / (len(zs[d]) + P * a), 4)
        for d, p in pairs
    }
    assert len(got) == len(want)
    assert {(r["doc_id"], r["pred_id"]): r["theta"] for r in got} == want
    assert want[(d0, unsampled)] == java_round(a / (len(zs[d0]) + P * a), 4)
    g.close()


def test_checkpoint_resume_bit_identical(spark, bundle, tmp_path):
    from entitysummarization_spark.plans.checkpoint import (
        latest_checkpoint,
        load_checkpoint,
        save_checkpoint,
    )

    b, P, W = bundle
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=5, n_partitions=2)
    g_full = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g_full.run(4)

    g_a = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g_a.run(2)
    save_checkpoint(g_a, str(tmp_path / "ck"))
    ck = latest_checkpoint(str(tmp_path / "ck"))
    assert ck is not None and ck.endswith("sweep=00002")

    g_b = load_checkpoint(spark, ck, b.corpus, b.obj_pred, b.lam)
    assert g_b.sweeps_done == 2
    g_b.run(2)

    za, zb = g_full.z_state(), g_b.z_state()
    for d in za:
        assert np.array_equal(za[d], zb[d]), f"doc {d}"
    assert np.array_equal(g_full.nwp, g_b.nwp)

    # cross-kernel resume: a chain checkpointed under the native kernel
    # must continue identically under the reference kernel — both
    # kernels share one z-chain
    g_c = load_checkpoint(spark, ck, b.corpus, b.obj_pred, b.lam,
                          kernel="reference")
    assert g_c.kernel == "reference"
    g_c.run(2)
    zc = g_c.z_state()
    for d in za:
        assert np.array_equal(za[d], zc[d]), f"doc {d} (cross-kernel)"
    assert np.array_equal(g_full.nwp, g_c.nwp)


def test_zero_change_chain_survives_broadcast_retirement(spark):
    """Regression: a corpus where every word has exactly ONE candidate
    predicate never changes any z, so no sweep emits a delta row. The
    collect of the (absent) delta rows must still materialize the lazily
    checkpointed state and truncate its lineage; otherwise sweep k+2's
    task serialization hits the destroyed sweep-k broadcast
    (INTERNAL_ERROR_BROADCAST). When the deltas were aggregated through a
    shuffle, AQE's submitMapStage skipped the truncation and five sweeps
    over two partitions failed at sweep 2."""
    from entitysummarization_spark.models.gibbs import (
        DistributedGibbs,
        GibbsConfig,
    )
    from entitysummarization_spark.operators.corpus import build_corpus

    rows = [
        (f"doc:{d}", f"pred_{w % 3}", f"obj_{w}", 1 + (d + w) % 2)
        for d in range(10)
        for w in range(6)
    ]
    canon = spark.createDataFrame(
        rows, "subj string, pred string, obj string, freq long"
    )
    b = build_corpus(canon)
    P, W = b.n_preds, b.n_words
    g = DistributedGibbs(
        spark, b.corpus, b.obj_pred, b.lam,
        GibbsConfig(n_preds=P, n_words=W, base_seed=3, n_partitions=2),
    )
    g.run(5)  # raised INTERNAL_ERROR_BROADCAST at sweep 2 before the fix
    assert g.last_sweep_changes == 0
    # counts must still be exact (delta refresh over zero deltas)
    assert int(g.nwp.sum()) == sum(r[3] for r in rows)
    g.close()
