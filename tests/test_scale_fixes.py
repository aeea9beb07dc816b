"""Round-2 scale fixes: diamond-DAG ancestors dedup, NGD hub cap,
range-partitioned dense_ids, pred-partitioned materialize pruning,
map-only lineage rows, and TakeOrderedAndProject plans for the top-k
operators."""

import pyspark.sql.functions as F
import pytest

from entitysummarization_spark.operators import graph
from entitysummarization_spark.operators.canonicalize import dense_ids
from entitysummarization_spark.operators.linking import ngd_relatedness


def test_ancestors_diamond_no_duplicates(spark):
    # diamond (as child→parent): d→b, d→c, b→a, c→a — two equal-length
    # paths d→a must yield ONE (d, a, 2) row, not two
    cp = spark.createDataFrame(
        [("d", "b"), ("d", "c"), ("b", "a"), ("c", "a")],
        "child string, parent string",
    )
    rows = graph.ancestors(cp, max_depth=10).collect()
    pairs = [(r["node"], r["ancestor"]) for r in rows]
    assert len(pairs) == len(set(pairs)), "duplicate (node, ancestor) rows"
    got = {(r["node"], r["ancestor"]): r["depth"] for r in rows}
    assert got == {
        ("d", "b"): 1, ("d", "c"): 1, ("d", "a"): 2,
        ("b", "a"): 1, ("c", "a"): 1,
    }


def test_ancestors_stacked_diamonds_coverage(spark):
    # two diamonds stacked: f→{d,e}→... with d,e→b,c? keep it simple:
    # second diamond on top of the first (a is 4 hops from f, many paths)
    cp = spark.createDataFrame(
        [("f", "d"), ("f", "e"), ("d", "b"), ("e", "b"),
         ("b", "a")],
        "child string, parent string",
    )
    closure = graph.ancestors(cp, max_depth=10)
    rows = closure.collect()
    pairs = [(r["node"], r["ancestor"]) for r in rows]
    assert len(pairs) == len(set(pairs))
    got = {(r["node"], r["ancestor"]): r["depth"] for r in rows}
    assert got[("f", "b")] == 2 and got[("f", "a")] == 3
    # category_scores coverage counts distinct descendants, not paths
    cov = {
        r["category"]: r["coverage"]
        for r in graph.category_scores(closure).collect()
    }
    assert cov["a"] == 4  # b, d, e, f — each once
    assert cov["b"] == 3  # d, e, f


def test_ngd_hub_source_cap(spark):
    # hub source links 4 entities (emits 6 pairs); sources s1/s2 link 2
    rows = (
        [("e%d" % i, "hub") for i in range(4)]
        + [("e0", "s1"), ("e1", "s1"), ("e0", "s2"), ("e1", "s2"), ("e9", "s3")]
    )
    links = spark.createDataFrame(rows, "entity string, source string")
    capped = ngd_relatedness(
        links, "entity", "source", max_source_degree=3
    ).collect()
    # hub dropped → only the (e0, e1) pair (via s1+s2) survives
    assert {(r["ent_a"], r["ent_b"]) for r in capped} == {("e0", "e1")}
    assert capped[0]["n_common"] == 2
    uncapped = ngd_relatedness(
        links, "entity", "source", max_source_degree=None
    ).collect()
    assert len(uncapped) == 6  # all C(4,2) hub pairs incl. (e0,e1)


def test_dense_ids_is_global_sorted_rank(spark):
    import random

    rnd = random.Random(7)
    names = sorted({"n%05d" % rnd.randrange(10**5) for _ in range(500)})
    # three kinds over the same names (the others over every 2nd / 3rd
    # name), so kinds interleave across the range partitions
    kinds = {"name": names, "alt": names[::2], "zed": names[::3]}
    rows = [(k, s) for k, kn in kinds.items() for s in kn for _ in range(2)]
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "kind string, name string").repartition(8)
    ids, sizes = dense_ids(df)
    for kind, kn in kinds.items():
        got = {r["name"]: r["id"]
               for r in ids.filter(F.col("kind") == kind).collect()}
        assert got == {n: i for i, n in enumerate(kn)}, kind
    assert sizes == {k: len(kn) for k, kn in kinds.items()}


def test_build_corpus_dictionaries_in_one_pass(spark, fixture_small):
    """The three dictionaries come from one range-sorted pass, and their
    sizes from that pass's own collect: 24 jobs when each dictionary ran
    its own pass."""
    from entitysummarization_spark.operators.canonicalize import canonical_triples
    from entitysummarization_spark.operators.corpus import build_corpus
    from entitysummarization_spark.operators.extraction import extract_triples

    canon = canonical_triples(extract_triples(
        spark, spark.createDataFrame(fixture_small.repos), fixture_small.vocab
    )).persist()
    canon.count()
    sc = spark.sparkContext
    group = "build-corpus-one-pass"
    sc.setJobGroup(group, group)
    try:
        b = build_corpus(canon)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 8, jobs
    assert b.n_preds == b.preds.count() > 0
    assert b.n_words == b.words.count() > 0
    canon.unpersist()


def test_materialize_pred_partition_pruning(spark, fixture_small, tmp_path):
    from entitysummarization_spark.plans.pipeline import materialize, run_pipeline

    repos = spark.createDataFrame(fixture_small.repos)
    res = run_pipeline(spark, repos, vocab=fixture_small.vocab,
                       n_sweeps=1, k=2, n_partitions=2)
    out = str(tmp_path / "kg")
    materialize(res, out, repos=repos)
    preds = [r["pred"] for r in res.canon.select("pred").distinct().collect()]
    assert len(preds) > 1
    import os

    # the layout is hive-partitioned by pred
    subdirs = {d for d in os.listdir(f"{out}/triples") if d.startswith("pred=")}
    assert subdirs == {f"pred={p}" for p in preds}
    one = (
        spark.read.parquet(f"{out}/triples")
        .filter(F.col("pred") == preds[0])
    )
    # the pred filter lands in the scan's PartitionFilters → directory-level
    # pruning (inputFiles() ignores filters, so inspect the physical plan)
    plan = one._jdf.queryExecution().executedPlan().toString()
    import re

    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and re.search(rf"pred#\d+ = {preds[0]}", pf[0])
    # and the data round-trips
    assert one.count() == res.canon.filter(F.col("pred") == preds[0]).count()


def _lineage_by_group_by(df, col):
    return sorted(
        tuple(r) for r in df.groupBy(F.spark_partition_id()).agg(
            F.count("*"), F.sum(col)).collect())


def test_lineage_rows_are_partition_totals(spark, fixture_small, tmp_path):
    """materialize's and Chain.save's lineage rows: one per non-empty
    partition, as groupBy(spark_partition_id()) gives them, summing to
    canon's row and freq totals and to the state's doc and token
    totals."""
    from entitysummarization_spark.models.chain import partition_totals
    from entitysummarization_spark.plans.pipeline import materialize, run_pipeline

    # 3 ids hashed into 8 partitions: at least 5 are empty
    ids = spark.range(3).repartition(8, "id")
    got = sorted(tuple(r) for r in partition_totals(
        ids, F.col("id"), "n", "s").collect())
    assert len(got) <= 3 and got == _lineage_by_group_by(ids, "id")

    res = run_pipeline(spark, spark.createDataFrame(fixture_small.repos),
                       vocab=fixture_small.vocab, n_sweeps=1, k=2,
                       n_partitions=3)
    out = str(tmp_path / "kg")
    materialize(res, out)
    ck = res.gibbs.save(str(tmp_path / "ck"))
    state, words = res.gibbs.state, F.size(res.gibbs.layout.items)
    for df, col, path, names in [
        (res.canon, F.col("freq"), f"{out}/lineage", ("n_rows", "n_facts")),
        (state, words, f"{ck}/lineage", ("n_docs", "n_tokens")),
    ]:
        lineage = spark.read.parquet(path)
        assert lineage.dtypes == [("partition_id", "int"),
                                  (names[0], "bigint"), (names[1], "bigint")]
        rows = sorted(tuple(r) for r in lineage.collect())
        assert rows == _lineage_by_group_by(df, col)
        assert all(n > 0 for _, n, _ in rows)
        assert sum(n for _, n, _ in rows) == df.count()
        assert sum(s for _, _, s in rows) == df.select(F.sum(col)).first()[0]


def test_topk_plans_use_take_ordered(spark):
    from entitysummarization_spark.operators import tfidf
    from entitysummarization_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.createDataFrame(
        [(i, "w%d x y z a b c" % (i % 3)) for i in range(12)],
        "doc_id long, text string",
    )
    # category_scores / top_k_core_nodes: lazy plans — assert directly
    cp = spark.createDataFrame([(2, 1), (3, 2)], "child long, parent long")
    plan = graph.category_scores(
        graph.ancestors(cp, max_depth=3)
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    scores = spark.createDataFrame(
        [(1, 0.9, 0.1), (2, 0.1, 0.9)], "node long, hub double, auth double"
    )
    plan2 = graph.top_k_core_nodes(
        scores, 1, 1
    )._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan2
    # jaccard / tfidf-cosine run eagerly (checkpointed top-k) — verify the
    # output still carries a correct dense rnk
    jac = ngram_jaccard_pairs(docs, n=2, top_k=3).collect()
    assert [r["rnk"] for r in sorted(jac, key=lambda r: r["rnk"])] == [1, 2, 3]
    cos = tfidf.tfidf_cosine_pairs(docs, top_k=3).collect()
    assert [r["rnk"] for r in sorted(cos, key=lambda r: r["rnk"])] == [1, 2, 3]


def _ck_pagerank(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    return {r["node"]: r["rank"]
            for r in graph.pagerank(edges, n_iter=5).collect()}


def _ck_build_corpus(spark):
    from entitysummarization_spark.operators.corpus import build_corpus

    canon = spark.createDataFrame(
        [("d1", "calls", "a", 2), ("d1", "uses", "b", 1),
         ("d2", "calls", "b", 3), ("d3", "extends", "a", 1)],
        "subj string, pred string, obj string, freq long",
    )
    b = build_corpus(canon)
    return (b.n_preds, b.n_words, {
        name: sorted(map(tuple, getattr(b, name).collect()))
        for name in ("docs", "preds", "words", "corpus", "facts", "lam")
    })


def _ck_tfidf_cosine_pairs(spark):
    from entitysummarization_spark.operators import tfidf

    docs = spark.createDataFrame(
        [(i, "w%d x y z a b c" % (i % 3)) for i in range(12)],
        "doc_id long, text string",
    )
    return sorted(map(tuple,
                      tfidf.tfidf_cosine_pairs(docs, top_k=3).collect()))


def _ck_connected_components_star(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7)], "src long, dst long"
    )
    return sorted(map(tuple,
                      graph.connected_components_star(edges).collect()))


CHECKPOINTED = {
    "pagerank": _ck_pagerank,
    "build_corpus": _ck_build_corpus,
    "tfidf_cosine_pairs": _ck_tfidf_cosine_pairs,
    "connected_components_star": _ck_connected_components_star,
}


@pytest.mark.parametrize("op", list(CHECKPOINTED))
def test_reliable_checkpoint_engages_with_checkpoint_dir(spark, tmp_path, op):
    """With a checkpoint dir configured (the real-cluster setting), every
    lineage cut goes through a reliable checkpoint() — files land under
    the dir and results are identical to the local-checkpoint path."""
    import os

    run = CHECKPOINTED[op]
    baseline = run(spark)

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    ckdir = str(tmp_path / "ck")
    sc.setCheckpointDir(ckdir)
    try:
        assert run(spark) == baseline
        written = [
            f for root, _, files in os.walk(ckdir) for f in files
        ]
        assert written, "no reliable checkpoint files were written"
    finally:
        # clear it — the session-scoped spark fixture is shared and other
        # tests expect the local-checkpoint path (Option.apply(null) = None)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.apply(None)
        )
        assert sc.getCheckpointDir() is None
