"""Curation compositions: near-dup clustering with keeper election,
retention funnel, token-budget training mix (operators/curation.py)."""

import pandas as pd
import pyspark.sql.functions as F

from entitysummarization_spark.operators import curation, textstats


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_neardup_clusters_groups_and_keepers(spark):
    # three exact copies, two exact copies, one unique (exact dups share
    # every shingle → every LSH band collides → full pair cliques)
    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven"
    t3 = "completely different text with no overlap whatsoever at all"
    docs = _docs(
        spark,
        [(1, t1), (2, t1), (3, t1), (10, t2), (11, t2), (99, t3)],
    )
    out = curation.neardup_clusters(docs).toPandas()
    assert len(out) == 6
    by_id = out.set_index("doc_id")
    assert set(by_id.loc[[1, 2, 3], "cluster_id"]) == {1}
    assert set(by_id.loc[[10, 11], "cluster_id"]) == {10}
    # the unlinked doc is its own singleton cluster and its own keeper
    assert by_id.loc[99, "cluster_id"] == 99
    assert by_id.loc[99, "cluster_size"] == 1
    assert bool(by_id.loc[99, "is_keeper"])
    assert list(by_id.loc[[1, 2, 3], "cluster_size"]) == [3, 3, 3]
    # exactly one keeper per cluster, and it is the min doc id
    keepers = out[out.is_keeper].groupby("cluster_id")["doc_id"].agg(list)
    assert keepers.to_dict() == {1: [1], 10: [10], 99: [99]}


def test_neardup_clusters_transitive_chain(spark):
    # A~B and B~C candidate pairs without A~C must still collapse to ONE
    # cluster (the pairwise near-dup output alone keeps 2 of the 3 docs).
    # Seek a deterministic A,B,C where the LSH pair graph is exactly that
    # chain, then assert the closure; the construction (B = half of A's
    # vocabulary + half of C's) makes chains likely, the scan makes the
    # test deterministic rather than seed-lucky.
    from entitysummarization_spark.operators.dedup import minhash_lsh_pairs

    found = None
    for salt in range(40):
        a_toks = [f"a{salt}w{i}" for i in range(12)]
        c_toks = [f"c{salt}w{i}" for i in range(12)]
        b_toks = a_toks[:6] + c_toks[:6]
        rows = [
            (1, " ".join(a_toks)),
            (2, " ".join(b_toks)),
            (3, " ".join(c_toks)),
        ]
        pairs = minhash_lsh_pairs(_docs(spark, rows)).toPandas()
        got = {tuple(sorted((r.id_a, r.id_b))) for r in pairs.itertuples()}
        if got == {(1, 2), (2, 3)}:
            found = rows
            break
    assert found is not None, "no chain-shaped LSH instance in 40 salts"
    out = curation.neardup_clusters(_docs(spark, found)).toPandas()
    assert set(out["cluster_id"]) == {1}
    assert sorted(out["cluster_size"]) == [3, 3, 3]
    assert sorted(out[out.is_keeper]["doc_id"]) == [1]


def test_curation_funnel_counts(spark):
    en_good = ("the quick brown fox jumps over the lazy dog and runs to "
               "the old barn by the river in the morning light again")
    en_dup = en_good
    # english (stopword ratio 1.0) but low length AND low diversity:
    # quality = 0.4·0.07 + 0.4·(2/7) + 0.2·1 ≈ 0.343 < 0.5
    en_short = "the the the the the of of"
    non_en = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    docs = _docs(
        spark,
        [(1, en_good), (2, en_dup), (3, en_short), (4, non_en)],
    )
    out = (
        curation.curation_funnel(docs, quality_threshold=0.5)
        .toPandas()
        .sort_values("stage")
    )
    assert list(out["stage_name"]) == [
        "input", "lang_en", "quality", "exact_dedup",
    ]
    n = dict(zip(out["stage_name"], out["n_docs"]))
    assert n["input"] == 4
    assert n["lang_en"] == 3          # non_en dropped
    assert n["quality"] == 2          # en_short fails the length term
    assert n["exact_dedup"] == 1      # the two identical docs collapse
    pct = dict(zip(out["stage_name"], out["pct_of_input"]))
    assert pct["input"] == 1.0 and pct["exact_dedup"] == 0.25
    # monotone funnel
    assert (
        n["input"] >= n["lang_en"] >= n["quality"] >= n["exact_dedup"]
    )


def test_token_budget_mix_matches_pandas(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    budget = 800
    out = (
        curation.token_budget_mix(docs, budget_per_lang=budget, n_parts=8)
        .toPandas()
        .sort_values(["lang", "cum_tokens"])
        .reset_index(drop=True)
    )
    # independent pandas reference: same tokenization, same ordering
    pdf = docs.select(
        "lang",
        "doc_id",
        F.size(F.filter(F.split(F.lower("text"), " "), lambda x: x != ""))
        .cast("long").alias("n_tokens"),
    ).toPandas()
    q = textstats.quality_score(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).select("doc_id", "quality").toPandas()
    pdf = pdf.merge(q, on="doc_id")
    pdf = pdf.sort_values(
        ["lang", "quality", "doc_id"], ascending=[True, False, True]
    )
    pdf["cum_tokens"] = pdf.groupby("lang")["n_tokens"].cumsum()
    exp = pdf[pdf.cum_tokens <= budget].reset_index(drop=True)
    exp = exp[["lang", "doc_id", "n_tokens", "cum_tokens", "quality"]]
    got = out[["lang", "doc_id", "n_tokens", "cum_tokens", "quality"]]
    got = got.sort_values(["lang", "cum_tokens"]).reset_index(drop=True)
    exp = exp.sort_values(["lang", "cum_tokens"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    # every language stays within budget and selects a PREFIX of its
    # quality-ordered ranking (no holes)
    for lang, grp in got.groupby("lang"):
        assert grp["cum_tokens"].max() <= budget
        assert grp["cum_tokens"].is_monotonic_increasing


def test_token_budget_mix_skew_safe_plan(spark, sf_dir):
    # the selection must NOT funnel each language through one window
    # task: the physical plan's corpus-side window is keyed on
    # (pid, lang) — spark_partition_id spreads a dominant language over
    # many partitions. Assert no window spec partitions on `lang` alone.
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mix, frame = curation._token_budget_plan(
        docs, 800, 8, "doc_id", "text", "lang")
    plan = mix._jdf.queryExecution().executedPlan().toString()
    frame.unpersist()
    # the corpus-sized cumsum must be keyed (pid, lang) …
    assert "windowspecdefinition(pid#" in plan
    # … and the only window keyed on lang alone is the subtotal prefix
    # sum (part_tokens: ≤ n_parts × n_langs rows), never the corpus one
    for line in plan.split("\n"):
        if "windowspecdefinition(lang#" in line:
            assert "part_tokens" in line, (
                f"corpus window keyed on lang alone: {line.strip()}"
            )


def test_decontaminate_flags_shared_ngrams(spark):
    ev = _docs(spark, [(100, "alpha beta gamma delta epsilon zeta")])
    tr = _docs(
        spark,
        [
            # contains "alpha beta gamma" (one shared 3-gram) and
            # "beta gamma delta" (a second one)
            (1, "prefix alpha beta gamma delta suffix words here"),
            (2, "totally unrelated content with zero overlap at all"),
            # too short for any 3-gram
            (3, "alpha beta"),
        ],
    )
    out = (
        curation.decontaminate(tr, ev, n=3)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert len(out) == 3
    # doc 1 shares exactly "alpha beta gamma" and "beta gamma delta"
    assert out.loc[1, "n_contaminated_ngrams"] == 2
    assert bool(out.loc[1, "is_contaminated"])
    assert out.loc[2, "n_contaminated_ngrams"] == 0
    assert not bool(out.loc[2, "is_contaminated"])
    assert out.loc[3, "n_contaminated_ngrams"] == 0
