"""M5 SontoLDA — TF-IDF-weighted β as a sampler configuration
(sontoldamodel/SontoLDA.java:130-146): the conditional is the M1 form with
λ = tfIdfMat (zero default) and ALL topics as candidates. Verified by
1-partition bit-parity against the NumPy oracle under identical seeds."""

import numpy as np
import pytest

from entitysummarization_spark.fixtures.samplers import (
    M5_P as P,
    M5_W as W,
    m5_cat_rows,
    m5_corpus_rows,
)
from entitysummarization_spark.models.gibbs import DistributedGibbs, GibbsConfig
from entitysummarization_spark.models.oracle import GibbsOracle
from entitysummarization_spark.operators.tfidf import tfidf_weight_matrix


@pytest.fixture(scope="module")
def m5_inputs(spark):
    # inputs shared with the driver-certified m5_invariants query
    # (fixtures/samplers): M5 makes every topic a candidate for every word
    # (the t_i loop over T); cat bags feed the TF-IDF weight matrix
    corpus_df = spark.createDataFrame(
        m5_corpus_rows(), "doc_id long, word_id long, freq int"
    )
    all_preds = list(range(P))
    obj_pred = spark.createDataFrame(
        [(w, all_preds) for w in range(W)],
        "word_id long, pred_ids array<long>",
    )
    cat_word = spark.createDataFrame(
        m5_cat_rows(), "pred_id long, word_id long, freq int"
    )
    lam_df = tfidf_weight_matrix(cat_word)
    return corpus_df, obj_pred, lam_df


def _dense_lam(lam_df):
    lam = np.zeros((P, W))
    pdf = lam_df.toPandas()
    lam[pdf["pred_id"].to_numpy(), pdf["word_id"].to_numpy()] = (
        pdf["weight"].to_numpy()
    )
    return lam


def test_m5_weights_closed_form(m5_inputs):
    _, _, lam_df = m5_inputs
    lam = _dense_lam(lam_df)
    # word 0 appears only in topic 0's bag (df=1, T=3); tf(0,0)=1
    assert lam[0, 0] == pytest.approx(round(1 * np.log(3 / 1), 6))
    # word 1: topics 0 (tf=2) and 1 (tf=2) → df=2
    assert lam[0, 1] == pytest.approx(round(2 * np.log(3 / 2), 6))
    # absent pairs stay exactly 0 (the SontoLDA zero-filled allocation)
    assert lam[0, 5] == 0.0


def test_m5_single_partition_bit_parity(spark, m5_inputs):
    corpus_df, obj_pred, lam_df = m5_inputs
    cp = corpus_df.toPandas()
    corpus = {
        int(d): (g["word_id"].to_numpy(np.int64), g["freq"].to_numpy(np.int64))
        for d, g in cp.groupby("doc_id")
    }
    cand = {w: np.arange(P, dtype=np.int64) for w in range(W)}
    lam = _dense_lam(lam_df)
    # β=0.5 so the TF-IDF prior actually moves the conditional
    orc = GibbsOracle(corpus, cand, P, W, lam=lam, beta=0.5, base_seed=23)
    orc.run(3)

    cfg = GibbsConfig(n_preds=P, n_words=W, beta=0.5, base_seed=23,
                      n_partitions=1, lam_default=0.0)
    g = DistributedGibbs(spark, corpus_df, obj_pred, lam_df, cfg)
    g.run(3)

    zs = g.z_state()
    for d in orc.state.doc_ids:
        assert np.array_equal(zs[d], orc.state.z[d]), f"doc {d}"
    assert np.array_equal(g.nwp, orc.state.nwp)
    # posteriors match the reference's 4-decimal rounding path too
    phi = g.phi().toPandas().pivot(index="pred_id", columns="word_id",
                                   values="phi").to_numpy()
    assert np.allclose(phi, orc.state.phi, atol=1e-12)


def test_m5_multi_partition_token_conservation(spark, m5_inputs):
    corpus_df, obj_pred, lam_df = m5_inputs
    cfg = GibbsConfig(n_preds=P, n_words=W, beta=0.5, base_seed=23,
                      n_partitions=3, lam_default=0.0)
    g = DistributedGibbs(spark, corpus_df, obj_pred, lam_df, cfg)
    g.run(2)
    n_tokens = corpus_df.toPandas()["freq"].sum()
    assert int(g.nwp.sum()) == int(n_tokens)
    assert (g.np_ == g.nwp.sum(axis=1)).all()


def test_m5_checkpoint_resume_keeps_config(spark, m5_inputs, tmp_path):
    """A checkpoint carries the full config: an M5 chain (λ default 0.0,
    β=0.5) resumed from sweep 2 must continue exactly as the unbroken
    chain — a resume that fell back to λ default 1.0 diverges."""
    from entitysummarization_spark.plans.checkpoint import (
        load_checkpoint,
        save_checkpoint,
    )

    corpus_df, obj_pred, lam_df = m5_inputs
    cfg = GibbsConfig(n_preds=P, n_words=W, beta=0.5, base_seed=23,
                      n_partitions=1, lam_default=0.0)
    g_full = DistributedGibbs(spark, corpus_df, obj_pred, lam_df, cfg)
    g_full.run(6)

    g_a = DistributedGibbs(spark, corpus_df, obj_pred, lam_df, cfg)
    g_a.run(2)
    ck = save_checkpoint(g_a, str(tmp_path / "ck"))
    g_b = load_checkpoint(spark, ck, corpus_df, obj_pred, lam_df)
    assert g_b.cfg == cfg
    g_b.run(4)

    zf, zb = g_full.z_state(), g_b.z_state()
    assert set(zf) == set(zb)
    for d in zf:
        assert np.array_equal(zf[d], zb[d]), f"doc {d}"
    assert np.array_equal(g_full.nwp, g_b.nwp)
    for g in (g_full, g_a, g_b):
        g.close()
