"""M6 ontoPartModel — chained topic→class→word sampler
(ontoPart/ontoPartModel.java:195-228 intended semantics; the reference
method's index bugs are documented in models/ontopart.py and not
reproduced). Verified by 1-partition bit-parity against the NumPy oracle
and by AD-LDA invariants on a multi-partition run."""

import numpy as np
import pytest

from entitysummarization_spark.fixtures.samplers import (
    M6_C as C,
    M6_T as T,
    M6_W as W,
    m6_class_rows,
    m6_corpus_rows,
)
from entitysummarization_spark.models.ontopart import (
    DistributedOntoPart,
    OntoPartConfig,
    OntoPartOracle,
)

SWEEPS = 3

# shared with the driver-certified m6_invariants query (fixtures/samplers)
_corpus_rows = m6_corpus_rows
_cls_rows = m6_class_rows


@pytest.fixture(scope="module")
def m6_inputs(spark):
    corpus_df = spark.createDataFrame(
        _corpus_rows(), "doc_id long, word_id long, freq int"
    )
    class_word = spark.createDataFrame(
        _cls_rows(), "class_id long, word_id long"
    )
    return corpus_df, class_word


def _oracle():
    corpus = {}
    for d, w, f in _corpus_rows():
        ws, fs = corpus.setdefault(d, ([], []))
        ws.append(w)
        fs.append(f)
    corpus = {
        d: (np.asarray(ws, dtype=np.int64), np.asarray(fs, dtype=np.int64))
        for d, (ws, fs) in corpus.items()
    }
    cand = {}
    for c, w in _cls_rows():
        cand.setdefault(w, []).append(c)
    cand = {w: np.asarray(sorted(cs), dtype=np.int64) for w, cs in cand.items()}
    cfg = OntoPartConfig(n_topics=T, n_classes=C, n_words=W, n_partitions=1)
    return OntoPartOracle(corpus, cand, cfg)


def test_m6_one_partition_bit_parity(spark, m6_inputs):
    """The runtime-compiled C grid kernel (or, where no compiler exists,
    its interpreted twin) must be bit-identical to the sequential
    oracle."""
    corpus_df, class_word = m6_inputs
    oracle = _oracle()
    oracle.run(SWEEPS)

    cfg = OntoPartConfig(n_topics=T, n_classes=C, n_words=W,
                         n_partitions=1)
    dist = DistributedOntoPart(spark, corpus_df, class_word, cfg)
    dist.run(SWEEPS)

    zs = dist.z_state()
    assert set(zs) == set(oracle.doc_ids)
    for d in oracle.doc_ids:
        ts, cs = zs[d]
        np.testing.assert_array_equal(ts, oracle.ts[d])
        np.testing.assert_array_equal(cs, oracle.cs[d])

    np.testing.assert_array_equal(dist.nct, oracle.nct)
    np.testing.assert_array_equal(dist.nwc, oracle.nwc)

    theta_o, phi_o, zeta_o = oracle.posteriors()
    np.testing.assert_array_equal(dist.phi(), phi_o)
    np.testing.assert_array_equal(dist.zeta(), zeta_o)
    th = {
        (int(r["doc_id"]), int(r["topic"])): r["theta"]
        for r in dist.theta().collect()
    }
    for row, d in enumerate(oracle.doc_ids):
        for t in range(T):
            if oracle.ntd[d][t] > 0:  # distributed θ emits observed cells
                assert th[(d, t)] == pytest.approx(theta_o[row, t])


def test_m6_multi_partition_invariants(spark, m6_inputs):
    corpus_df, class_word = m6_inputs
    cfg = OntoPartConfig(n_topics=T, n_classes=C, n_words=W, n_partitions=3)
    dist = DistributedOntoPart(spark, corpus_df, class_word, cfg)
    dist.run(2)

    n_tokens = sum(f for _, _, f in _corpus_rows())
    assert dist.nct.sum() == n_tokens          # every token has one (t, c)
    assert dist.nwc.sum() == n_tokens
    assert (dist.nct >= 0).all() and (dist.nwc >= 0).all()
    # class constraint respected: nwc[c, w] > 0 only for allowed (c, w)
    allowed = set(_cls_rows())
    for c, w in zip(*np.nonzero(dist.nwc)):
        assert (int(c), int(w)) in allowed
    # posteriors are row-stochastic up to rounding
    assert np.allclose(dist.phi().sum(axis=1), 1.0, atol=5e-3)
    assert np.allclose(dist.zeta().sum(axis=1), 1.0, atol=5e-3)
