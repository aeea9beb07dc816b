"""The shared chain engine (models/chain.py): every sweep, every count
recompute and every per-doc posterior is one Spark job of one stage,
every sampler reports the tokens its last sweep changed, ships its
constants once for init and sweeps, frees each sweep's broadcast at its
commit and the constants on close(), every sampler
resumes bit-identically from a checkpoint, and the per-sweep lineage
WARN is silenced."""

import dataclasses
import json
import os

import numpy as np
import pytest

from entitysummarization_spark.fixtures.samplers import (
    M4_E,
    M4_T,
    M4_W,
    M6_C,
    M6_T,
    M6_W,
    M7_C,
    M7_F,
    M7_M,
    M7_T,
    m4_corpus_rows,
    m4_ent_rows,
    m6_class_rows,
    m6_corpus_rows,
    m7_ctx_rows,
    m7_rating_rows,
)
from entitysummarization_spark.models.chain import LINEAGE_WARN_LOGGER
from entitysummarization_spark.models.entlda2 import (
    DistributedEntLda2,
    EntLda2Config,
)
from entitysummarization_spark.models.gibbs import DistributedGibbs, GibbsConfig
from entitysummarization_spark.models.lodlda import (
    DistributedLodLda,
    LodLdaConfig,
)
from entitysummarization_spark.models.ontopart import (
    DistributedOntoPart,
    OntoPartConfig,
    OntoPartOracle,
)
from entitysummarization_spark.models.oracle import GibbsOracle

CORPUS = "doc_id long, word_id long, freq int"


def _m1_inputs(spark):
    """M1's (corpus, obj_pred, lam) over the M6 fixture, classes standing
    in for predicates."""
    cand: dict[int, list[int]] = {}
    for c, w in m6_class_rows():
        cand.setdefault(w, []).append(c)
    return (spark.createDataFrame(m6_corpus_rows(), CORPUS),
            spark.createDataFrame(sorted(cand.items()),
                                  "word_id long, pred_ids array<long>"),
            None)


def _m1(spark):
    return DistributedGibbs(
        spark, *_m1_inputs(spark),
        GibbsConfig(n_preds=M6_C, n_words=M6_W, n_partitions=2),
    )


def _m4(spark):
    return DistributedEntLda2(
        spark, spark.createDataFrame(m4_corpus_rows(), CORPUS),
        spark.createDataFrame(
            m4_ent_rows(), "doc_id long, ent_id long, rel_ent_id long, sr double"
        ),
        EntLda2Config(n_topics=M4_T, n_entities=M4_E, n_words=M4_W,
                      n_partitions=2),
    )


def _m6(spark):
    return DistributedOntoPart(
        spark, spark.createDataFrame(m6_corpus_rows(), CORPUS),
        spark.createDataFrame(m6_class_rows(), "class_id long, word_id long"),
        OntoPartConfig(n_topics=M6_T, n_classes=M6_C, n_words=M6_W,
                       n_partitions=2),
    )


def _m7(spark):
    return DistributedLodLda(
        spark, spark.createDataFrame(m7_rating_rows(),
                                     "user_id long, movie_id long"),
        spark.createDataFrame(m7_ctx_rows(),
                              "movie_id long, slot int, feature_id long"),
        LodLdaConfig(n_topics=M7_T, n_movies=M7_M, n_features=M7_F,
                     n_contexts=M7_C, n_partitions=2),
    )


SAMPLERS = {"m1": _m1, "m4": _m4, "m6": _m6, "m7": _m7}


def _assert_one_job_of_one_stage(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    assert len(jobs) == 1, jobs
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1


@pytest.mark.parametrize(
    "name,k", [("m1", 1), ("m1", 2), ("m4", 1), ("m6", 1), ("m7", 1)],
    ids=["m1", "m1-fused2", "m4", "m6", "m7"],
)
def test_sweep_is_one_job_of_one_stage(spark, name, k):
    """The sweep pass emits its own count deltas, so collecting them needs
    no shuffle: the whole sweep, unfused or fused, is one job."""
    m = SAMPLERS[name](spark)
    m.init_state()
    _assert_one_job_of_one_stage(spark, f"one-job-sweep-{name}-{k}",
                                 lambda: m.sweep(n_fused=k))
    m.close()


@pytest.mark.parametrize("name", sorted(SAMPLERS))
def test_count_refresh_is_one_job_of_one_stage(spark, name):
    """The absolute recompute is a count-only pass that emits its own
    count rows, so it needs no shuffle either."""
    m = SAMPLERS[name](spark)
    m.init_state()
    _assert_one_job_of_one_stage(spark, f"one-job-refresh-{name}",
                                 m._refresh_global_counts)
    m.close()


POSTERIORS = {
    "m1": lambda m: m.theta(),
    "m4": lambda m: m.zeta(),
    "m6": lambda m: m.theta(),
    "m7": lambda m: m.theta_df(),
}


@pytest.mark.parametrize("name", sorted(SAMPLERS))
def test_doc_posterior_is_one_job_of_one_stage(spark, name):
    """A doc's counts live in its own state row, so every per-doc
    posterior is one map over the state: no explode→groupBy shuffle."""
    m = SAMPLERS[name](spark)
    m.init_state()
    df = POSTERIORS[name](m)
    _assert_one_job_of_one_stage(
        spark, f"one-job-posterior-{name}",
        lambda: df.write.format("noop").mode("overwrite").save())
    m.close()


def _token_states(m) -> dict:
    """key → int64[n_tokens, n_state columns], from ``z_state()``."""
    return {
        k: np.column_stack([np.asarray(x) for x in
                            (rec if isinstance(rec, tuple) else (rec,))])
        for k, rec in m.z_state().items()
    }


@pytest.mark.parametrize("name", sorted(SAMPLERS))
def test_last_sweep_changes(spark, name):
    """Every sampler reports how many tokens its last sweep moved."""
    m = SAMPLERS[name](spark)
    m.init_state()
    before = _token_states(m)
    m.sweep()
    after = _token_states(m)
    assert set(before) == set(after)
    changed = sum(int((before[k] != after[k]).any(axis=1).sum())
                  for k in before)
    assert changed > 0
    assert m.last_sweep_changes == changed
    m.close()


@pytest.mark.parametrize("name", sorted(SAMPLERS))
def test_broadcast_lifecycle(spark, name, monkeypatch):
    """Init ships nothing of its own: it reads the chain constants, the
    one broadcast a chain keeps, which the sweeps reuse and close()
    destroys; M4 has no constants and ships none. Each sweep destroys
    its counts broadcast at its commit."""
    m = SAMPLERS[name](spark)
    sc = spark.sparkContext
    made, broadcast = [], sc.broadcast

    def recording(value):
        made.append(broadcast(value))
        return made[-1]

    monkeypatch.setattr(sc, "broadcast", recording)
    m.init_state()
    if name == "m4":
        assert made == [] and m._const_bc is None
        m.run(2)
        assert len(made) == 2 and m._const_bc is None
        assert not any(bc._jbroadcast.isValid() for bc in made)
        m.close()
        return
    assert len(made) == 1 and made[0] is m._const_bc
    const = made[0]
    m.run(2)
    assert m._const_bc is const and const._jbroadcast.isValid()
    swept = made[1:]
    assert len(swept) == 2
    assert not any(bc._jbroadcast.isValid() for bc in swept)
    m.close()
    assert not const._jbroadcast.isValid() and m._const_bc is None


# one doc; word W−1, the candidate CSR's last row, has one candidate
EDGE_W, EDGE_P, EDGE_DOC = 4, 3, 7
EDGE_FREQS = [2, 1, 3, 2]
EDGE_CAND = {0: [0, 1, 2], 1: [1, 2], 2: [0, 2], 3: [1]}


@pytest.mark.parametrize("name", ["m1", "m6"])
def test_last_csr_row_single_candidate(spark, name):
    """Init draws from the constants' candidate CSR: on a one-doc corpus
    whose last word has one candidate, init + 2 sweeps at one partition
    equal the oracle, and that word's tokens all hold its candidate."""
    corpus = spark.createDataFrame(
        [(EDGE_DOC, w, f) for w, f in enumerate(EDGE_FREQS)], CORPUS)
    oracle_corpus = {EDGE_DOC: (np.arange(EDGE_W, dtype=np.int64),
                                np.array(EDGE_FREQS, dtype=np.int64))}
    cand = {w: np.asarray(c, dtype=np.int64) for w, c in EDGE_CAND.items()}
    if name == "m1":
        m = DistributedGibbs(
            spark, corpus,
            spark.createDataFrame(sorted(EDGE_CAND.items()),
                                  "word_id long, pred_ids array<long>"),
            None, GibbsConfig(n_preds=EDGE_P, n_words=EDGE_W, n_partitions=1))
        orc = GibbsOracle(oracle_corpus, cand, EDGE_P, EDGE_W)
        orc.run(2)
        want = [orc.state.z[EDGE_DOC]]
    else:
        cfg = OntoPartConfig(n_topics=2, n_classes=EDGE_P, n_words=EDGE_W,
                             n_partitions=1)
        m = DistributedOntoPart(
            spark, corpus,
            spark.createDataFrame(
                [(c, w) for w, cs in EDGE_CAND.items() for c in cs],
                "class_id long, word_id long"),
            cfg)
        orc = OntoPartOracle(oracle_corpus, cand, cfg)
        orc.run(2)
        want = [orc.ts[EDGE_DOC], orc.cs[EDGE_DOC]]
    m.run(2)
    got = m.z_state()
    assert set(got) == {EDGE_DOC}
    got = got[EDGE_DOC] if name == "m6" else [got[EDGE_DOC]]
    for g, w in zip(got, want, strict=True):
        np.testing.assert_array_equal(g, w)
    # the candidate (M1) or class (M6) of every token of word W−1
    words = np.repeat(np.arange(EDGE_W), EDGE_FREQS)
    assert (got[-1][words == EDGE_W - 1] == EDGE_CAND[EDGE_W - 1][0]).all()
    m.close()


def test_lineage_warn_logger_raised_to_error(spark):
    _m6(spark)
    jvm = spark.sparkContext._jvm
    logger = jvm.org.apache.logging.log4j.LogManager.getLogger(
        LINEAGE_WARN_LOGGER
    )
    assert logger.getLevel().toString() == "ERROR"


@pytest.mark.parametrize("name", sorted(SAMPLERS))
def test_sweep_constants_broadcast_once(spark, name):
    """A chain's sweep constants (M1's candidates and λ·β, M6's class CSR,
    M7's movie contexts) ship in one broadcast that every sweep reuses
    and close() destroys. M4 has no constants and ships none."""
    m = SAMPLERS[name](spark)
    m.run(1)
    const = m._const_bc
    m.run(1)
    if name == "m4":
        assert const is None and m._const_bc is None
        m.close()
        return
    assert m._const_bc is const and const._jbroadcast.isValid()
    m.close()
    assert not const._jbroadcast.isValid()


# the driver counts of each sampler; M4's include its burn-in θ and α
DRIVER_COUNTS = {
    "m4": lambda m: (m.nte, m.ne, m.theta, m.alpha_mat, m.sum_alpha),
    "m6": lambda m: (m.nct, m.nwc),
    "m7": lambda m: (m.nmt, m.nct),
}


@pytest.mark.parametrize("name", sorted(DRIVER_COUNTS))
def test_resume_bit_identical(spark, name, tmp_path):
    """run(4) equals run(2) + save + restore into a fresh instance +
    run(2), in the state and the driver counts. M4 saves after its
    burn-in (2 sweeps), so a resume that lost θ/α diverges."""
    full = SAMPLERS[name](spark)
    full.run(4)
    a = SAMPLERS[name](spark)
    a.run(2)
    ck = a.save(str(tmp_path / "ck"))
    assert ck.endswith("sweep=00002")
    b = SAMPLERS[name](spark)
    b.restore(ck)
    assert b.sweeps_done == 2
    b.run(2)
    want, got = _token_states(full), _token_states(b)
    assert set(want) == set(got)
    for k in want:
        assert np.array_equal(want[k], got[k]), f"record {k}"
    for x, y in zip(DRIVER_COUNTS[name](full), DRIVER_COUNTS[name](b)):
        assert np.array_equal(x, y)
    if name == "m4":
        assert full.nwte == b.nwte
    for m in (full, a, b):
        m.close()


def test_restore_refuses_another_sampler(spark, tmp_path):
    m6 = _m6(spark)
    m6.init_state()
    ck = m6.save(str(tmp_path / "ck"))
    m6.close()
    with pytest.raises(ValueError, match="holds an M6 chain"):
        _m7(spark).restore(ck)


def test_restore_refuses_changed_config(spark, tmp_path):
    m = _m6(spark)
    m.init_state()
    ck = m.save(str(tmp_path / "ck"))
    m.close()
    other = _m6(spark)
    other.cfg = dataclasses.replace(other.cfg, base_seed=8)
    with pytest.raises(ValueError, match="base_seed=7"):
        other.restore(ck)


def test_load_checkpoint_reads_older_meta(spark, tmp_path):
    """A checkpoint whose meta.json predates the model field (sweeps_done,
    config with the retired reliable_checkpoint key, and the m3 flag)
    still resumes, and its m3 flag still guards an M3 resume."""
    from entitysummarization_spark.plans.checkpoint import (
        load_checkpoint,
        save_checkpoint,
    )

    g = _m1(spark)
    g.run(2)
    ck = save_checkpoint(g, str(tmp_path / "ck"))
    meta_path = os.path.join(ck, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    meta = {"sweeps_done": meta["sweeps_done"],
            "config": {**meta["config"], "reliable_checkpoint": False},
            "m3": False}
    with open(meta_path, "w") as f:
        json.dump(meta, f)
    r = load_checkpoint(spark, ck, *_m1_inputs(spark))
    assert r.sweeps_done == 2 and r.cfg == g.cfg
    assert np.array_equal(r.nwp, g.nwp)
    zr, zg = r.z_state(), g.z_state()
    assert zr.keys() == zg.keys()
    assert all(np.array_equal(zr[d], zg[d]) for d in zg)
    for m in (g, r):
        m.close()
    with open(meta_path, "w") as f:
        json.dump({**meta, "m3": True}, f)
    with pytest.raises(ValueError, match="M3"):
        load_checkpoint(spark, ck, *_m1_inputs(spark))


def test_save_before_init_refuses(spark, tmp_path):
    """A chain with no state yet refuses to save, and writes nothing."""
    ck = tmp_path / "ck"
    ck.mkdir()
    m = _m6(spark)
    with pytest.raises(ValueError, match="no state yet"):
        m.save(str(ck))
    assert list(ck.iterdir()) == []
