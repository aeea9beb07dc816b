"""M2 type-gating and the sha256 content invariant."""

import os

import pyspark.sql.functions as F

from entitysummarization_spark.operators.corpus import constrain_by_types
from entitysummarization_spark.plans.pipeline import content_invariant


def test_constrain_by_types_gates_and_falls_back(spark):
    obj_pred = spark.createDataFrame(
        [(0, [0, 1, 2]), (1, [0, 1]), (2, [2])],
        "word_id long, pred_ids array<long>",
    )
    obj_types = spark.createDataFrame(
        [(0, 100), (1, 200)], "word_id long, type_id long"
    )
    pred_range = spark.createDataFrame(
        [(0, 100), (1, 300)], "pred_id long, type_id long"
    )
    got = {
        r["word_id"]: list(r["pred_ids"])
        for r in constrain_by_types(obj_pred, obj_types, pred_range).collect()
    }
    assert got[0] == [0]          # gated: only pred 0's range matches type 100
    assert got[1] == [0, 1]       # type 200 matches nothing → fallback observed
    assert got[2] == [2]          # no type rows → fallback observed


def test_content_invariant_sha256(spark, fixture_small):
    import hashlib

    repos = spark.createDataFrame(fixture_small.repos)
    inv = content_invariant(repos)
    row = inv.orderBy("repo", "path").first()
    src = fixture_small.repos.sort_values(["repo", "path"]).iloc[0]
    expect = hashlib.sha256(src["content"].encode()).hexdigest()
    assert row["content_sha256"] == expect
    assert inv.count() == len(fixture_small.repos)
    # round-trip through the extraction pipeline leaves the scan unchanged
    again = content_invariant(repos)
    assert (
        inv.join(again, ["repo", "path", "commit", "content_sha256"]).count()
        == len(fixture_small.repos)
    )


def test_sources_read_text_dir(spark, tmp_path):
    from entitysummarization_spark.sources.readers import read_table, read_text_dir

    (tmp_path / "a.txt").write_text("alpha doc")
    (tmp_path / "b.txt").write_text("beta doc")
    rows = read_text_dir(spark, str(tmp_path)).collect()
    got = {r["path"].rsplit("/", 1)[-1]: r["content"] for r in rows}
    assert got == {"a.txt": "alpha doc", "b.txt": "beta doc"}
    # read_table re-splits to the session parallelism
    df = spark.createDataFrame([(i,) for i in range(100)], "x long")
    df.write.mode("overwrite").parquet(str(tmp_path / "t.parquet"))
    rt = read_table(spark, str(tmp_path / "t.parquet"))
    assert rt.count() == 100
    assert rt.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_build_corpus_prune_and_boost_match_pandas(spark):
    """F10 prune after the category boost, against a pandas recount:
    pruned objects get no word id, word ids are the sorted rank over the
    kept words only, and corpus freq carries the boost."""
    import pandas as pd

    from entitysummarization_spark.operators.corpus import build_corpus

    canon = pd.DataFrame(
        [("s2", "p1", "a", 1), ("s1", "p1", "a", 1), ("s1", "p2", "b", 2),
         ("s3", "p2", "b", 2), ("s1", "p1", "c", 1), ("s2", "p2", "d", 1),
         ("s3", "p1", "e", 5), ("s2", "p1", "z", 1)],
        columns=["subj", "pred", "obj", "freq"],
    )
    # c (freq 1) reaches the threshold only through its 3 categories;
    # d (freq 1, 2 categories) and a (freq 2, 1 category) stay below it
    ec = pd.DataFrame(
        [("a", "x"), ("c", "x"), ("c", "y"), ("c", "w"), ("d", "x"),
         ("d", "y"), ("q", "x")],
        columns=["entity_name", "category"],
    )
    b = build_corpus(
        spark.createDataFrame(canon, "subj string, pred string, obj string, freq long"),
        entity_category=spark.createDataFrame(ec),
        category_boost=True, min_word_freq=3,
    )

    ncat = ec.groupby("entity_name").size()
    boosted = canon.assign(
        freq=canon["freq"] * canon["obj"].map(ncat).fillna(1).clip(lower=1))
    tot = boosted.groupby("obj")["freq"].sum()
    kept = sorted(tot[tot >= 3].index)
    assert kept == ["b", "c", "e"]
    rank = {n: i for i, n in enumerate(kept)}
    assert {r["obj"]: r["word_id"] for r in b.words.collect()} == rank
    assert b.n_words == len(kept)
    docs = {n: i for i, n in enumerate(sorted(canon["subj"].unique()))}
    assert {r["subj"]: r["doc_id"] for r in b.docs.collect()} == docs
    k = boosted[boosted["obj"].isin(kept)]
    want = (k.assign(doc_id=k["subj"].map(docs), word_id=k["obj"].map(rank))
            .groupby(["doc_id", "word_id"])["freq"].sum())
    got = {(r["doc_id"], r["word_id"]): r["freq"] for r in b.corpus.collect()}
    assert got == want.to_dict()
    assert got[(docs["s1"], rank["c"])] == 3


def test_run_pipeline_without_triples_returns_empty_outputs(spark, fixture_small):
    """Input with no extractable triples short-circuits before the sampler:
    empty θ/φ/summaries with their schemas, no Gibbs chain."""
    from entitysummarization_spark.plans.pipeline import run_pipeline

    repos = fixture_small.repos.head(3).assign(content="nothing to see\n")
    res = run_pipeline(spark, spark.createDataFrame(repos),
                       vocab=fixture_small.vocab, n_sweeps=1, k=2,
                       n_partitions=2)
    assert res.gibbs is None
    assert res.corpus.n_preds == res.corpus.n_words == 0
    assert res.theta.schema.simpleString() == (
        "struct<doc_id:bigint,pred_id:bigint,theta:double>")
    assert res.phi.schema.simpleString() == (
        "struct<pred_id:bigint,word_id:bigint,phi:double>")
    assert res.summaries.columns == [
        "doc_id", "subj", "rank", "pred", "obj", "theta", "phi", "score"]
    for df in (res.triples, res.theta, res.phi, res.summaries):
        assert df.count() == 0


def test_run_pipeline_zero_sweeps_saves_sweep_zero(spark, tmp_path):
    """A 0-sweep run with checkpointing initializes the chain, leaves a
    sweep-0 resume point and still returns summaries."""
    from entitysummarization_spark.fixtures import make_fixture
    from entitysummarization_spark.plans.checkpoint import latest_checkpoint
    from entitysummarization_spark.plans.pipeline import run_pipeline

    fx = make_fixture(20, seed=3)
    ck = str(tmp_path / "ck")
    res = run_pipeline(spark, spark.createDataFrame(fx.repos),
                       vocab=fx.vocab, n_sweeps=0, k=2, n_partitions=2,
                       checkpoint_dir=ck, checkpoint_every=5)
    assert latest_checkpoint(ck) == os.path.join(ck, "sweep=00000")
    assert res.gibbs.sweeps_done == 0
    assert res.summaries.count() > 0
    res.gibbs.close()
