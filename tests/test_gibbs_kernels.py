"""Kernel bit-parity of native C vs the reference kernel, and the
long-run soak: bounded plan size + bounded persisted blocks
across 100+ sweeps (the localCheckpoint / broadcast-destroy discipline
in gibbs.sweep)."""

import numpy as np
import pytest

from entitysummarization_spark.models import native_kernel
from entitysummarization_spark.models.gibbs import DistributedGibbs, GibbsConfig
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


def _run(spark, b, P, W, kernel, n_partitions, sweeps=3):
    cfg = GibbsConfig(
        n_preds=P, n_words=W, base_seed=11, n_partitions=n_partitions,
        kernel=kernel,
    )
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g.run(sweeps)
    return g


@pytest.mark.parametrize("n_partitions", [1, 3])
@pytest.mark.parametrize("kernel", ["native"])
def test_kernels_bit_identical(spark, bundle, kernel, n_partitions):
    """The compiled kernel must reproduce the reference NumPy kernel's
    z-chain EXACTLY (same partitioning, same seeds) — this is what keeps
    every golden oracle valid while a compiled path is the default.
    Skips only where no C compiler exists, where "native" itself runs
    the reference kernel."""
    if not native_kernel.native_available():
        pytest.skip("no C compiler on this machine")
    b, P, W = bundle
    gf = _run(spark, b, P, W, kernel, n_partitions)
    gr = _run(spark, b, P, W, "reference", n_partitions)
    zf, zr = gf.z_state(), gr.z_state()
    assert set(zf) == set(zr)
    for d in zr:
        assert np.array_equal(zf[d], zr[d]), f"doc {d}"
    assert np.array_equal(gf.nwp, gr.nwp)
    gf.close()
    gr.close()


@pytest.mark.parametrize("kernel", ["fast", "numba"])
def test_removed_kernels_rejected(kernel):
    """Only "native" and "reference" exist; the retired kernel names
    fail loudly instead of silently mapping."""
    with pytest.raises(ValueError, match="kernel"):
        GibbsConfig(n_preds=2, n_words=2, kernel=kernel)


def test_reliable_checkpoint_same_chain(spark, bundle, tmp_path):
    """With a checkpoint dir set, every pass uses a durable
    Dataset.checkpoint (the executor-loss-safe path documented in
    models/chain.py); it must produce the identical z-chain, and the
    direct plan-handle release must keep the block inventory flat."""
    b, P, W = bundle
    sc = spark.sparkContext
    # the local-checkpoint reference chain, built before the dir is set
    g2 = _run(spark, b, P, W, "native", 2, sweeps=7)
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11,
                          n_partitions=2)
        g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
        g.run(4)
        blocks_after_4 = sc._jsc.getPersistentRDDs().size()
        g.run(3)
        assert (
            sc._jsc.getPersistentRDDs().size() <= blocks_after_4 + 1
        )
        z1, z2 = g.z_state(), g2.z_state()
        assert set(z1) == set(z2)
        for d in z1:
            assert np.array_equal(z1[d], z2[d])
        g.close()
        g2.close()
    finally:
        # the session-scoped spark fixture is shared; other tests assert
        # the local-checkpoint default (no dir configured)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )


def test_soak_bounded_plan_and_blocks(spark, bundle):
    """105 sweeps on a small corpus: the per-sweep localCheckpoint must
    keep the state's plan O(1) (no mapInPandas chain growth) and the
    persisted-block count flat (old states unpersisted, old broadcasts
    destroyed) — at 1000 sweeps either failure mode kills the driver."""
    b, P, W = bundle
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=5, n_partitions=2)
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g.init_state()

    def plan_len() -> int:
        return len(g.state._jdf.queryExecution().executedPlan().toString())

    def n_cached_rdds() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    g.run(5)
    base_plan, base_rdds = plan_len(), n_cached_rdds()
    g.run(100)
    assert g.sweeps_done == 105
    # plan size must not grow with sweep count (allow formatting jitter)
    assert plan_len() <= base_plan + 200
    # block inventory flat: current state (+ any module-fixture leftovers),
    # not one entry per sweep
    assert n_cached_rdds() <= base_rdds + 2
    # counts still exact after the long chain
    n_tokens = int(b.corpus.toPandas()["freq"].sum())
    assert int(g.nwp.sum()) == n_tokens
    assert (g.np_ == g.nwp.sum(axis=1)).all()
