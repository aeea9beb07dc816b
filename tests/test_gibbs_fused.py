"""Fused multi-sweep blocks (GibbsConfig.sweeps_per_job > 1).

Fusion runs K sweeps inside ONE mapInArrow job, carrying each
partition's locally-updated counts across the fused sweeps (the AD-LDA
staleness extended from within-a-sweep to within-a-block). The gates
mirror the scheme's two exactness anchors plus the rank-fidelity bar
every approximation in this repo clears:

  1. n_partitions=1 → BIT-IDENTICAL to the unfused chain (local counts
     ARE the global counts, RNG is per (seed, sweep, doc));
  2. any partitioning → the driver's delta-maintained count matrices
     equal a full recompute from z-state at every block boundary
     (integer-delta induction is partition- and fusion-agnostic);
  3. multi-partition fused summaries pass the same NDCG@5 floor as the
     unfused AD-LDA approximation (test_summary_ndcg.py calibration:
     exact-sampler seed-noise floor 0.58, unfused 4-partition 0.83).
"""

import warnings

import numpy as np
import pytest

from entitysummarization_spark.fixtures.samplers import ring_edges
from entitysummarization_spark.models import native_kernel
from entitysummarization_spark.models.chain import COUNT, run_sweeps
from entitysummarization_spark.models.gibbs import (
    LAYOUT,
    DistributedGibbs,
    GibbsConfig,
    _m1_step,
)
from entitysummarization_spark.operators.canonicalize import canonical_triples
from entitysummarization_spark.operators.corpus import build_corpus
from entitysummarization_spark.operators.extraction import extract_triples

needs_cc = pytest.mark.skipif(
    not native_kernel.native_available(), reason="no C compiler"
)


@pytest.fixture(scope="module")
def bundle(spark, fixture_small):
    fx = fixture_small
    repos = spark.createDataFrame(fx.repos.head(30))
    triples = extract_triples(spark, repos, fx.vocab)
    canon = canonical_triples(triples).persist()
    b = build_corpus(canon)
    P, W = b.n_preds, b.n_words
    return b, int(P), int(W)


def _run(spark, b, P, W, n_partitions, sweeps, sweeps_per_job,
         kernel="native"):
    cfg = GibbsConfig(
        n_preds=P, n_words=W, base_seed=11, n_partitions=n_partitions,
        kernel=kernel, sweeps_per_job=sweeps_per_job,
    )
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg)
    g.run(sweeps)
    return g


@needs_cc
def test_fused_bit_identical_single_partition(spark, bundle):
    """With one partition the carried local counts equal the refreshed
    global counts, so fused K sweeps ≡ K unfused sweeps exactly."""
    b, P, W = bundle
    gf = _run(spark, b, P, W, n_partitions=1, sweeps=6, sweeps_per_job=3)
    gu = _run(spark, b, P, W, n_partitions=1, sweeps=6, sweeps_per_job=1)
    zf, zu = gf.z_state(), gu.z_state()
    assert set(zf) == set(zu)
    for d in zu:
        assert np.array_equal(zf[d], zu[d]), f"doc {d}"
    assert np.array_equal(gf.nwp, gu.nwp)
    assert np.array_equal(gf.np_, gu.np_)
    gf.close()
    gu.close()


@needs_cc
def test_fused_counts_exact_at_block_boundary(spark, bundle):
    """Multi-partition fusion: the delta-maintained global counts must
    equal a full recompute from the final z-state, and conserve the
    token total (every sweep's deltas are emitted and aggregated)."""
    b, P, W = bundle
    g = _run(spark, b, P, W, n_partitions=3, sweeps=4, sweeps_per_job=2)
    n_tokens = int(g.np_.sum())
    nwp_delta = g.nwp.copy()
    # a NumPy recount from the z-state, independent of the chain engine
    words = dict(g.state.select("doc_id", "words").collect())
    recount = np.zeros((P, W), dtype=np.int64)
    for d, z in g.z_state().items():
        np.add.at(recount, (z, words[d]), 1)
    assert np.array_equal(nwp_delta, recount)
    g._refresh_global_counts()  # absolute recompute — the arbiter
    assert np.array_equal(nwp_delta, g.nwp)
    assert int(g.nwp.sum()) == n_tokens
    g.close()


@needs_cc
def test_fused_remainder_and_sweep_count(spark, bundle):
    """run(5) with sweeps_per_job=2 → blocks of 2,2,1; sweeps_done=5 and
    the chain advances exactly 5 RNG sweeps (sweep 5 ≠ sweep 4 state)."""
    b, P, W = bundle
    g = _run(spark, b, P, W, n_partitions=2, sweeps=5, sweeps_per_job=2)
    assert g.sweeps_done == 5
    g.close()


def test_fused_rejects_non_native_and_m3(spark, bundle):
    """kernel="reference" (the compiler-less fallback) fuses: on one
    partition its fused ×2 run(4) equals an unfused native run(4). M3
    refuses a fused sweep and run() degrades to one sweep per job."""
    b, P, W = bundle
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        gr = _run(spark, b, P, W, n_partitions=1, sweeps=4,
                  sweeps_per_job=2, kernel="reference")
    assert not [w for w in caught if "sweeps_per_job" in str(w.message)]
    gn = _run(spark, b, P, W, n_partitions=1, sweeps=4, sweeps_per_job=1)
    zr, zn = gr.z_state(), gn.z_state()
    assert set(zr) == set(zn)
    for d in zn:
        assert np.array_equal(zr[d], zn[d]), f"doc {d}"
    assert np.array_equal(gr.nwp, gn.nwp)
    gr.close()
    gn.close()

    docs = [r.doc_id for r in b.corpus.select("doc_id").distinct().collect()]
    sr = spark.createDataFrame(ring_edges(docs), "doc_a long, doc_b long")
    cfg = GibbsConfig(n_preds=P, n_words=W, base_seed=11, n_partitions=1,
                      sweeps_per_job=4)
    g = DistributedGibbs(spark, b.corpus, b.obj_pred, b.lam, cfg, doc_sr=sr)
    g.init_state()
    with pytest.raises(ValueError, match="fused"):
        g.sweep(n_fused=2)
    # run() degrades with a warning instead of raising
    with pytest.warns(UserWarning, match="sweeps_per_job"):
        g.run(2)
    assert g.sweeps_done == 2
    g.close()


def _tiny_problem():
    """Driver-side micro problem exercising the fused runner directly:
    2 docs, W=4 words, P=3 preds, full candidate sets."""
    import pyarrow as pa

    P, W = 3, 4
    cand = {w: np.arange(P, dtype=np.int64) for w in range(W)}
    csr_indptr, csr_data = native_kernel.cand_to_csr(cand, W)
    lam = np.ones((P, W))
    beta = 0.01
    const = {
        "slb": lam.sum(axis=1) * beta,
        "csr_indptr": csr_indptr, "csr_data": csr_data,
        "lam_beta": np.ascontiguousarray((lam * beta).ravel()),
        "max_cand": P,
    }
    words = [[0, 1, 1, 2, 3, 0], [2, 2, 3, 0]]
    zs = [[0, 1, 2, 0, 1, 2], [1, 1, 0, 2]]
    rb = pa.RecordBatch.from_arrays(
        [pa.array([0, 1], type=pa.int64()),
         pa.array(words, type=pa.list_(pa.int64())),
         pa.array(zs, type=pa.list_(pa.int64()))],
        names=["doc_id", "words", "zs"],
    )
    nwp = np.zeros((P, W), dtype=np.int64)
    for ws, zz in zip(words, zs):
        for w, z in zip(ws, zz):
            nwp[z, w] += 1
    return rb, const, nwp, P, W


def delta_rows(batches, layout):
    """A runner pass's signed count rows as (items, *state, n) tuples:
    the rows whose count is set (their list columns hold one value)."""
    cols = (layout.items, *layout.state)
    return [
        (*(v[0] for v in row[:-1]), row[-1]) for rb in batches
        for row in zip(*(rb.column(c).to_pylist() for c in (*cols, COUNT)))
        if row[-1] is not None
    ]


def _sweep_block(rb, lib, const, nwp, P, sweep0, k, use_m3=False):
    """One partition's pass through the shared runner: sweeps
    sweep0..sweep0+k-1 of the tiny problem with the M1 batch sweep.
    Returns the swept state batch and the pass's signed count rows."""
    step = _m1_step(lib, const, nwp, nwp.sum(axis=1), 50.0 / P, 0.9,
                    use_m3)
    out = list(run_sweeps(iter([rb]), step, 11, sweep0, k, LAYOUT))
    assert len(out) in (1, 2)
    return out[0], delta_rows(out, LAYOUT)


@needs_cc
def test_fused_runner_matches_sequential_unfused():
    """Function-level parity: one partition's fused K=3 pass equals 3
    sequential unfused passes with the driver's delta refresh applied
    between them (exactly what DistributedGibbs does unfused)."""
    rb, const, nwp0, P, W = _tiny_problem()
    lib = native_kernel.load_native()

    f, f_deltas = _sweep_block(rb, lib, const, nwp0, P, 0, 3)  # fused

    cur, nwp = rb, nwp0.copy()
    for s in range(3):
        out, deltas = _sweep_block(cur, lib, const, nwp, P, s, 1)
        # driver-side exact delta refresh between unfused sweeps
        for w, p, n in deltas:
            nwp[p, w] += n
        import pyarrow as pa

        cur = pa.RecordBatch.from_arrays(
            [out.column("doc_id"), out.column("words"), out.column("zs")],
            names=["doc_id", "words", "zs"],
        )
    assert f.column("zs").to_pylist() == cur.column("zs").to_pylist()
    # fused deltas reconstruct the same final counts
    nwp_f = nwp0.copy()
    for w, p, n in f_deltas:
        nwp_f[p, w] += n
    assert np.array_equal(nwp_f, nwp)


@needs_cc
def test_fused_multi_partition_summary_ndcg(spark):
    """Rank-fidelity gate for the fused approximation at 4 partitions:
    same bar the unfused AD-LDA run clears in test_summary_ndcg.py
    (abs floor 0.75 < the measured unfused 0.83, both far above the
    exact sampler's 0.58 seed-noise floor). Fusing 5 of the 10 sweeps
    per job doubles the staleness horizon — this pins the cost of that
    to below a seed change."""
    from entitysummarization_spark.fixtures import make_fixture
    from entitysummarization_spark.plans.pipeline import run_pipeline

    from test_summary_ndcg import ABS_FLOOR, mean_ndcg

    fx = make_fixture(n_files=60, seed=42)
    repos = spark.createDataFrame(fx.repos)
    ref = run_pipeline(spark, repos, vocab=fx.vocab, n_sweeps=10,
                       k=10**6, n_partitions=1, base_seed=7)
    fused = run_pipeline(spark, repos, vocab=fx.vocab, n_sweeps=10,
                         k=5, n_partitions=4, base_seed=7,
                         sweeps_per_job=5)
    score = mean_ndcg(ref.summaries.toPandas(), fused.summaries.toPandas())
    assert score >= ABS_FLOOR, f"fused NDCG@5 {score:.3f} < {ABS_FLOOR}"


@needs_cc
@pytest.mark.parametrize("k", [1, 3])
def test_fused_interpreted_fallback_matches_native(k):
    """lib=None (executor without a compiler) runs the oracle's
    reference kernel inside the SAME runner — identical chain, so
    heterogeneous clusters agree, unfused and even mid-block."""
    rb, const, nwp0, P, W = _tiny_problem()
    a, da = _sweep_block(rb, native_kernel.load_native(), const, nwp0, P,
                         0, k)
    b, db = _sweep_block(rb, None, const, nwp0, P, 0, k)
    assert a.column("zs").to_pylist() == b.column("zs").to_pylist()
    assert da == db


@needs_cc
def test_m3_interpreted_twin_matches_native():
    """M3 per-doc α through the runner: the C kernel and the reference
    kernel (lib=None) read the joined ``nbrs`` column into the same α
    rows (doc 1 has no neighbors — the left-join null) and agree."""
    import pyarrow as pa

    rb, const, nwp0, P, W = _tiny_problem()
    nbr_type = pa.list_(pa.struct([
        ("nbr", pa.int64()), ("nd", pa.int64()),
        ("pn", pa.list_(pa.struct([("p", pa.int64()), ("n", pa.int64())]))),
    ]))
    nbrs = pa.array([
        [{"nbr": 1, "nd": 4, "pn": [{"p": 0, "n": 1}, {"p": 1, "n": 2},
                                     {"p": 2, "n": 1}]}],
        None,
    ], type=nbr_type)
    rb = pa.RecordBatch.from_arrays(
        list(rb.columns) + [nbrs], names=rb.schema.names + ["nbrs"]
    )
    lib = native_kernel.load_native()
    runs = [_sweep_block(rb, lib_, const, nwp0, P, 0, 1, use_m3=True)
            for lib_ in (lib, None)]
    got = [r.column("zs").to_pylist() for r, _ in runs]
    assert got[0] == got[1]
    deltas = [d for _, d in runs]
    assert deltas[0] == deltas[1]
