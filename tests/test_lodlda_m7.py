"""M7 LodLda — contextual user×movie×feature LDA
(lodlda/LodLda.java:645-676 intended semantics; the Nt_c sign bug and
global-RNG quirks are documented in models/lodlda.py and not
reproduced). Verified by 1-partition bit-parity against the NumPy
oracle — counts, θ/φ/ζ posteriors, recommendation rank matrix, SCRM —
and by AD-LDA invariants on a multi-partition run."""

import numpy as np
import pytest

from entitysummarization_spark.fixtures.samplers import (
    M7_C as C,
    M7_F as FEAT,
    M7_M as M,
    M7_T as T,
    M7_U as U,
    m7_ctx_rows,
    m7_rating_rows,
    m7_test_rows,
)
from entitysummarization_spark.models.lodlda import (
    DistributedLodLda,
    LodLdaConfig,
    LodLdaOracle,
    _scrm,
    ctx_from_rows,
)

SWEEPS = 4


def _cfg(**kw):
    base = dict(n_topics=T, n_movies=M, n_features=FEAT, n_contexts=C,
                n_partitions=1)
    base.update(kw)
    return LodLdaConfig(**base)


def _records():
    recs = {}
    for u, m in m7_rating_rows():
        recs.setdefault(u, []).append(m)
    return {u: np.asarray(ms, dtype=np.int64) for u, ms in recs.items()}


def _oracle(cfg=None):
    ctx = ctx_from_rows(m7_ctx_rows(), M, C)
    return LodLdaOracle(_records(), ctx, cfg or _cfg())


@pytest.fixture(scope="module")
def m7_inputs(spark):
    ratings = spark.createDataFrame(
        m7_rating_rows(), "user_id long, movie_id long"
    )
    ctx = spark.createDataFrame(
        m7_ctx_rows(), "movie_id long, slot int, feature_id long"
    )
    test = spark.createDataFrame(
        m7_test_rows(), "user_id long, movie_id long"
    )
    return ratings, ctx, test


def _pair(spark, m7_inputs):
    """(oracle, distributed) after SWEEPS sweeps at 1 partition."""
    ratings, ctx, _test = m7_inputs
    orc = _oracle()
    orc.run(SWEEPS)
    dist = DistributedLodLda(spark, ratings, ctx, _cfg())
    dist.run(SWEEPS)
    return orc, dist


@pytest.fixture(scope="module")
def m7_pair(spark, m7_inputs):
    return _pair(spark, m7_inputs)


def test_m7_one_partition_bit_parity(m7_pair):
    _assert_one_partition_bit_parity(m7_pair)


def test_m7_one_partition_bit_parity_one_record_batches(
    spark, m7_inputs, one_record_batches
):
    """The same parity with one user per Arrow batch: the context
    columns survive the runner's batch-by-batch rewrap."""
    _assert_one_partition_bit_parity(_pair(spark, m7_inputs))


def _assert_one_partition_bit_parity(m7_pair):
    orc, dist = m7_pair
    zstate = dist.z_state()
    assert sorted(zstate) == orc.user_ids
    for u in orc.user_ids:
        zs, cs = zstate[u]
        assert np.array_equal(zs, orc.zs[u])
        assert len(cs) == len(orc.cs[u])
        for a, b in zip(cs, orc.cs[u]):
            assert np.array_equal(a, b)
    assert np.array_equal(dist.nmt, orc.nmt)
    assert np.array_equal(dist.nct, orc.nct)
    assert np.array_equal(dist.nt_m, orc.nt_m)
    assert np.array_equal(dist.nt_c, orc.nt_c)


def _recount(dist):
    """(Nmt, Nct) recounted with NumPy from the z-state, independent of
    the chain engine."""
    movies = dict(dist.state.select("user_id", "movies").collect())
    nmt = np.zeros((T, M), dtype=np.int64)
    nct = np.zeros((T, FEAT), dtype=np.int64)
    for u, (zs, cs) in dist.z_state().items():
        np.add.at(nmt, (zs, movies[u]), 1)
        for z, c in zip(zs, cs):
            np.add.at(nct, (z, c), 1)
    return nmt, nct


def test_m7_delta_refresh_matches_absolute(m7_pair):
    _orc, dist = m7_pair
    nmt, nct = dist.nmt.copy(), dist.nct.copy()
    nmt_re, nct_re = _recount(dist)
    assert np.array_equal(nmt, nmt_re)
    assert np.array_equal(nct, nct_re)
    dist._refresh_global_counts()
    assert np.array_equal(nmt, dist.nmt)
    assert np.array_equal(nct, dist.nct)


def test_m7_posterior_parity(m7_pair):
    orc, dist = m7_pair
    assert np.array_equal(dist.phi(), orc.phi())
    assert np.array_equal(dist.zeta(), orc.zeta())
    th_o = orc.theta()
    th_d = {
        int(r["user_id"]): np.asarray(r["theta"])
        for r in dist.theta_df().collect()
    }
    assert sorted(th_d) == sorted(th_o)
    for u, row in th_o.items():
        assert np.array_equal(th_d[u], row), u


def test_m7_recommendation_parity(m7_pair, m7_inputs):
    orc, dist = m7_pair
    _ratings, _ctx, test = m7_inputs
    t_users = sorted({u for u, _m in m7_test_rows()})
    t_movies = sorted({m for _u, m in m7_test_rows()})
    rank_o = orc.rank_matrix(t_users, t_movies)
    rank_d = {
        (int(r["user_id"]), int(r["movie_id"])): float(r["score"])
        for r in dist.score_df(test).collect()
    }
    assert set(rank_d) == set(rank_o)
    for k in rank_o:
        assert rank_d[k] == rank_o[k], k
    user_movies: dict[int, set] = {}
    for u, m in m7_test_rows():
        user_movies.setdefault(u, set()).add(m)
    scrm_o = _scrm(rank_o, user_movies, t_users, t_movies, 3)
    assert dist.scrm(test, 3) == scrm_o


def test_m7_multi_partition_invariants(spark, m7_inputs):
    ratings, ctx, _test = m7_inputs
    d3 = DistributedLodLda(spark, ratings, ctx, _cfg(n_partitions=3))
    d3.run(3)
    n = len(m7_rating_rows())
    assert int(d3.nmt.sum()) == n
    assert int(d3.nct.sum()) == n * C
    assert (d3.nmt >= 0).all() and (d3.nct >= 0).all()
    ctx_mat = ctx_from_rows(m7_ctx_rows(), M, C)
    for u, (zs, cs) in d3.z_state().items():
        recs = _records()[u]
        assert len(zs) == len(recs)
        for m, c in zip(np.sort(recs), cs):
            # after the first sweep every record's context assignment is
            # pinned to the movie's true features (:672-676)
            assert np.array_equal(c, ctx_mat[int(m)])
    # delta refresh stayed exact across partitions
    nmt, nct = d3.nmt.copy(), d3.nct.copy()
    nmt_re, nct_re = _recount(d3)
    assert np.array_equal(nmt, nmt_re)
    assert np.array_equal(nct, nct_re)
    d3._refresh_global_counts()
    assert np.array_equal(nmt, d3.nmt)
    assert np.array_equal(nct, d3.nct)


def test_m7_nt_c_conserved_unlike_reference(spark, m7_inputs):
    """The reference's List-variant updateCounts (:690-699) grows Nt_c
    by 2·C per resample (sign bug); ours conserves Σ Nt_c = C·N across
    any number of sweeps."""
    ratings, ctx, _test = m7_inputs
    d = DistributedLodLda(spark, ratings, ctx, _cfg(n_partitions=2))
    n = len(m7_rating_rows())
    d.run(1)
    assert int(d.nt_c.sum()) == n * C
    d.run(2)
    assert int(d.nt_c.sum()) == n * C
