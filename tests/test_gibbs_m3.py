"""M3 option: SR-graph-smoothed per-doc α — oracle bit-parity and effect."""

import numpy as np
import pytest

from entitysummarization_spark.models.gibbs import DistributedGibbs, GibbsConfig
from entitysummarization_spark.models.oracle import (
    GibbsOracle,
    alpha_from_neighbors,
)
from entitysummarization_spark.operators.canonicalize import canonical_triples
from entitysummarization_spark.operators.corpus import build_corpus
from entitysummarization_spark.operators.extraction import extract_triples


@pytest.fixture(scope="module")
def bundle(spark, fixture_small):
    fx = fixture_small
    repos = spark.createDataFrame(fx.repos.head(24))
    canon = canonical_triples(extract_triples(spark, repos, fx.vocab)).persist()
    b = build_corpus(canon)
    return b, b.n_preds, b.n_words


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


from entitysummarization_spark.fixtures.samplers import (  # noqa: E402
    ring_edges as _ring_edges,  # shared with the driver m3_invariants query
)


def test_alpha_from_neighbors_no_nbrs():
    av = alpha_from_neighbors([], P=4, alpha0=0.5, epsilon=0.9)
    assert np.allclose(av, 0.05)


def test_alpha_from_neighbors_closed_form():
    # one neighbor: nd=2, npd = {0: 2}, P=2, alpha0=1.0
    nbrs = [(7, 2, np.array([0]), np.array([2]))]
    av = alpha_from_neighbors(nbrs, P=2, alpha0=1.0, epsilon=0.9)
    theta = np.round(np.array([(2 + 1) / 4, 1 / 4]), 4)
    expect = 0.1 * 1.0 + 0.9 * 2.0 * theta
    assert np.allclose(av, expect)


@pytest.mark.parametrize("kernel", ["native", "reference"])
def test_m3_single_partition_bit_parity(spark, bundle, kernel):
    """The M3 per-doc-alpha path must hold bit-parity under both kernels
    (the per-doc alpha vector takes a different code path in the
    compiled kernel than the scalar M1 alpha does)."""
    b, P, W = bundle
    corpus, cand, lam = _oracle_inputs(b, P, W)
    edges = _ring_edges(corpus)
    doc_nbrs = {}
    for a_, b_ in edges:
        doc_nbrs.setdefault(a_, []).append(b_)

    oracle = GibbsOracle(corpus, cand, P, W, lam=lam, base_seed=11,
                         doc_nbrs=doc_nbrs)
    oracle.run(4)

    sr = spark.createDataFrame(edges, "doc_a long, doc_b long")
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11, n_partitions=1,
                      kernel=kernel)
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg, doc_sr=sr)
    g.run(4)

    zs = g.z_state()
    for d in oracle.state.doc_ids:
        assert np.array_equal(zs[d], oracle.state.z[d]), f"doc {d} diverged"


def _m3_chain(spark, b, P, W, sr):
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11, n_partitions=1)
    return DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg,
                            doc_sr=sr)


def test_m3_checkpoint_resume_bit_identical(spark, bundle, tmp_path):
    """An M3 chain resumed with its doc_sr continues exactly: run(4)
    equals run(2) + save + load + run(2) in z-state and Nwp."""
    from entitysummarization_spark.plans.checkpoint import (
        load_checkpoint,
        save_checkpoint,
    )

    b, P, W = bundle
    corpus, _cand, _lam = _oracle_inputs(b, P, W)
    sr = spark.createDataFrame(_ring_edges(corpus), "doc_a long, doc_b long")
    g_ref = _m3_chain(spark, b, P, W, sr)
    g_ref.run(4)
    g_a = _m3_chain(spark, b, P, W, sr)
    g_a.run(2)
    ck = save_checkpoint(g_a, str(tmp_path / "ck"))
    g_b = load_checkpoint(spark, ck, b.corpus, b.obj_pred, b.lam, doc_sr=sr)
    g_b.run(2)
    z_ref, z_b = g_ref.z_state(), g_b.z_state()
    assert set(z_ref) == set(z_b)
    for d in z_ref:
        assert np.array_equal(z_ref[d], z_b[d]), f"doc {d} diverged"
    assert np.array_equal(g_ref.nwp, g_b.nwp)
    for g in (g_ref, g_a, g_b):
        g.close()


def test_m3_checkpoint_refuses_resume_without_doc_sr(spark, bundle,
                                                     tmp_path):
    """Loading an M3 checkpoint without its doc_sr would silently resume
    as M1 (no SR-smoothed α); it raises instead, as does loading an M1
    checkpoint with a doc_sr."""
    from entitysummarization_spark.plans.checkpoint import (
        load_checkpoint,
        save_checkpoint,
    )

    b, P, W = bundle
    corpus, _cand, _lam = _oracle_inputs(b, P, W)
    sr = spark.createDataFrame(_ring_edges(corpus), "doc_a long, doc_b long")
    g = _m3_chain(spark, b, P, W, sr)
    g.run(1)
    ck = save_checkpoint(g, str(tmp_path / "ck"))
    g.close()
    with pytest.raises(ValueError, match="M3"):
        load_checkpoint(spark, ck, b.corpus, b.obj_pred, b.lam)
    # and an M1 checkpoint is not resumed as M3
    g1 = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam,
                          GibbsConfig(n_preds=P, n_words=W, n_partitions=1))
    g1.init_state()
    ck1 = save_checkpoint(g1, str(tmp_path / "ck1"))
    g1.close()
    with pytest.raises(ValueError, match="non-M3"):
        load_checkpoint(spark, ck1, b.corpus, b.obj_pred, b.lam, doc_sr=sr)


def test_m3_changes_assignments_vs_m1(spark, bundle):
    b, P, W = bundle
    corpus, cand, lam = _oracle_inputs(b, P, W)
    edges = _ring_edges(corpus)
    sr = spark.createDataFrame(edges, "doc_a long, doc_b long")
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11, n_partitions=2)
    g1 = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g1.run(3)
    g3 = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg, doc_sr=sr)
    g3.run(3)
    z1, z3 = g1.z_state(), g3.z_state()
    # same shapes; the smoothed prior must actually alter the trajectory
    assert set(z1) == set(z3)
    assert any(not np.array_equal(z1[d], z3[d]) for d in z1)
