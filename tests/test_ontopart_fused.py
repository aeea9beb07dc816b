"""Fused multi-sweep blocks for M6 ontoPart
(OntoPartConfig.sweeps_per_job > 1) — the same scheme and exactness
anchors as the M1 fusion in test_gibbs_fused.py:

  1. n_partitions=1 → BIT-IDENTICAL to the unfused chain (and therefore
     to the sequential NumPy oracle);
  2. any partitioning → the delta-maintained global count matrices equal
     a full recompute from the final (ts, cs) state at every block
     boundary, and conserve the token total;
  3. a compiler-less executor runs the interpreted per-token twin inside
     the same runner — identical chain, unfused and mid-block.
"""

import numpy as np
import pytest

from entitysummarization_spark.fixtures.samplers import (
    M6_C as C,
    M6_T as T,
    M6_W as W,
    m6_class_rows,
    m6_corpus_rows,
)
from entitysummarization_spark.models import native_kernel
from entitysummarization_spark.models.chain import run_sweeps
from entitysummarization_spark.models.ontopart import (
    LAYOUT,
    DistributedOntoPart,
    OntoPartConfig,
    _onto_step,
)
from test_gibbs_fused import delta_rows

needs_cc = pytest.mark.skipif(
    not native_kernel.native_available(), reason="no C compiler"
)


@pytest.fixture(scope="module")
def m6_inputs(spark):
    corpus_df = spark.createDataFrame(
        m6_corpus_rows(), "doc_id long, word_id long, freq int"
    )
    class_word = spark.createDataFrame(
        m6_class_rows(), "class_id long, word_id long"
    )
    return corpus_df, class_word


def _run(spark, m6_inputs, n_partitions, sweeps, sweeps_per_job):
    corpus_df, class_word = m6_inputs
    cfg = OntoPartConfig(
        n_topics=T, n_classes=C, n_words=W, n_partitions=n_partitions,
        sweeps_per_job=sweeps_per_job,
    )
    m = DistributedOntoPart(spark, corpus_df, class_word, cfg)
    m.run(sweeps)
    return m


@needs_cc
def test_fused_bit_identical_single_partition(spark, m6_inputs):
    mf = _run(spark, m6_inputs, n_partitions=1, sweeps=6, sweeps_per_job=3)
    mu = _run(spark, m6_inputs, n_partitions=1, sweeps=6, sweeps_per_job=1)
    zf, zu = mf.z_state(), mu.z_state()
    assert set(zf) == set(zu)
    for d in zu:
        np.testing.assert_array_equal(zf[d][0], zu[d][0])
        np.testing.assert_array_equal(zf[d][1], zu[d][1])
    np.testing.assert_array_equal(mf.nct, mu.nct)
    np.testing.assert_array_equal(mf.nwc, mu.nwc)
    mf.close()
    mu.close()


@needs_cc
def test_fused_counts_exact_at_block_boundary(spark, m6_inputs):
    m = _run(spark, m6_inputs, n_partitions=3, sweeps=4, sweeps_per_job=2)
    n_tokens = int(m.nct.sum())
    nct_delta, nwc_delta = m.nct.copy(), m.nwc.copy()
    # a NumPy recount from the z-state, independent of the chain engine
    words = dict(m.state.select("doc_id", "words").collect())
    nct_re = np.zeros((T, C), dtype=np.int64)
    nwc_re = np.zeros((C, W), dtype=np.int64)
    for d, (ts, cs) in m.z_state().items():
        np.add.at(nct_re, (ts, cs), 1)
        np.add.at(nwc_re, (cs, words[d]), 1)
    np.testing.assert_array_equal(nct_delta, nct_re)
    np.testing.assert_array_equal(nwc_delta, nwc_re)
    m._refresh_global_counts()  # absolute recompute — the arbiter
    np.testing.assert_array_equal(nct_delta, m.nct)
    np.testing.assert_array_equal(nwc_delta, m.nwc)
    assert int(m.nct.sum()) == int(m.nwc.sum()) == n_tokens
    m.close()


@needs_cc
def test_fused_remainder_and_sweep_count(spark, m6_inputs):
    m = _run(spark, m6_inputs, n_partitions=2, sweeps=5, sweeps_per_job=2)
    assert m.sweeps_done == 5
    m.close()


def _tiny_problem():
    """Driver-side micro problem for the fused runner: 2 docs, W=4
    words, T=2 topics, C=3 classes, full candidate sets."""
    import pyarrow as pa

    t_, c_, w_ = 2, 3, 4
    cand = {w: np.arange(c_, dtype=np.int64) for w in range(w_)}
    csr = native_kernel.cand_to_csr(cand, w_)
    words = [[0, 1, 1, 2, 3, 0], [2, 2, 3, 0]]
    ts = [[0, 1, 0, 1, 0, 1], [1, 0, 1, 0]]
    cs = [[0, 1, 2, 0, 1, 2], [1, 2, 0, 1]]
    rb = pa.RecordBatch.from_arrays(
        [pa.array([0, 1], type=pa.int64()),
         pa.array(words, type=pa.list_(pa.int64())),
         pa.array(ts, type=pa.list_(pa.int64())),
         pa.array(cs, type=pa.list_(pa.int64()))],
        names=["doc_id", "words", "ts", "cs"],
    )
    nct = np.zeros((t_, c_), dtype=np.int64)
    nwc = np.zeros((c_, w_), dtype=np.int64)
    for ws_r, ts_r, cs_r in zip(words, ts, cs):
        for w, t, c in zip(ws_r, ts_r, cs_r):
            nct[t, c] += 1
            nwc[c, w] += 1
    return rb, csr, nct, nwc, t_, c_, w_


def _sweep_block(rb, lib, csr, nct, nwc, sweep0, k):
    """One partition's pass through the shared runner: sweeps
    sweep0..sweep0+k-1 of the tiny problem with the M6 batch sweep.
    Returns the swept state batch and the pass's signed count rows."""
    t_, c_ = nct.shape
    step = _onto_step(lib, csr, nct, nwc, t_, c_, nwc.shape[1],
                      50.0 / t_, 0.01, 0.01, c_)
    out = list(run_sweeps(iter([rb]), step, 11, sweep0, k, LAYOUT))
    assert len(out) in (1, 2)
    return out[0], delta_rows(out, LAYOUT)


@needs_cc
def test_fused_runner_matches_sequential_unfused():
    """One partition's fused K=3 pass equals 3 sequential unfused arrow
    passes with the driver's exact delta refresh applied between them."""
    import pyarrow as pa

    rb, csr, nct0, nwc0, t_, c_, w_ = _tiny_problem()
    lib = native_kernel.load_native()

    f, f_deltas = _sweep_block(rb, lib, csr, nct0, nwc0, 0, 3)  # fused

    cur, nct, nwc = rb, nct0.copy(), nwc0.copy()
    for s in range(3):
        out, deltas = _sweep_block(cur, lib, csr, nct, nwc, s, 1)
        for w, t, c, n in deltas:
            nct[t, c] += n
            nwc[c, w] += n
        cur = pa.RecordBatch.from_arrays(
            [out.column("doc_id"), out.column("words"),
             out.column("ts"), out.column("cs")],
            names=["doc_id", "words", "ts", "cs"],
        )
    assert f.column("ts").to_pylist() == cur.column("ts").to_pylist()
    assert f.column("cs").to_pylist() == cur.column("cs").to_pylist()
    # fused deltas reconstruct the same final counts
    nct_f, nwc_f = nct0.copy(), nwc0.copy()
    for w, t, c, n in f_deltas:
        nct_f[t, c] += n
        nwc_f[c, w] += n
    np.testing.assert_array_equal(nct_f, nct)
    np.testing.assert_array_equal(nwc_f, nwc)


@needs_cc
@pytest.mark.parametrize("k", [1, 3])
def test_fused_interpreted_fallback_matches_native(k):
    """lib=None runs the interpreted per-token twin inside the SAME
    runner — identical chain, deltas and state."""
    rb, csr, nct0, nwc0, t_, c_, w_ = _tiny_problem()
    x, dx = _sweep_block(rb, native_kernel.load_native(), csr, nct0, nwc0,
                         0, k)
    y, dy = _sweep_block(rb, None, csr, nct0, nwc0, 0, k)
    for col in ("ts", "cs"):
        assert x.column(col).to_pylist() == y.column(col).to_pylist(), col
    assert dx == dy
