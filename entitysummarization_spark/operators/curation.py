"""Corpus-curation compositions for training-data pipelines.

Three end-to-end curation shapes a 100-TB pretraining pipeline runs after
the per-doc primitives (dedup.py, textstats.py) and that the reference's
corpus-prep stage performs by hand in sequence (document filters + dedupe:
src/preprocess/CorpusGenerator.java:61-118, PatternMatchingMachine.java:105
link-cap discipline):

  - neardup_clusters: MinHash-LSH candidate pairs → alternating-star
    connected components → one keeper per duplicate CLUSTER (pairs alone
    under-dedupe: A~B, B~C must collapse to one keeper even when A~C was
    never a candidate pair).
  - curation_funnel: retention accounting for the filter chain
    input → language → quality → exact-dedup, as one aggregation pass.
  - token_budget_mix: deterministic per-language training-mix selection
    under a token budget — the highest-quality documents per language
    until the language's budget is spent, via a fully distributed
    two-phase prefix sum (no per-language single reducer).

At 100 TB: neardup_clusters touches only LSH-candidate pairs (near-dup-
bounded) and labels them in O(log n) star rounds; the funnel is one scan +
one partial-aggregated fold; token_budget_mix range-partitions the global
(lang, quality) order so a dominant language spreads over many partitions
instead of serializing through one window task — the classic skew failure
of `Window.partitionBy(lang)` cumulative sums.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..session import checkpoint
from .dedup import minhash_lsh_pairs, tokens_col
from .graph import connected_components_star
from .textstats import EN_STOPWORDS, quality_columns


def neardup_clusters(
    docs: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-duplicate clusters with keeper election:
    (doc_id, cluster_id, cluster_size, is_keeper).

    cluster_id = min doc id reachable through the LSH-candidate pair
    graph (transitive closure — pairwise output alone keeps both B and C
    when A~B and B~C but A!~C); docs in no pair are their own singleton
    cluster. is_keeper marks the minimum doc id of each cluster — drop
    the rest and the corpus keeps exactly one representative per cluster.

    Scale: the pair graph is near-dup-bounded (≪ corpus), star CC
    converges in O(log n) rounds, and the size/keeper aggregation
    shuffles one (cluster_id, doc_id) pair per document. A pathological
    giant cluster is one hot groupBy key — absorbed by partial
    aggregation, not a joined row explosion.
    """
    pairs = minhash_lsh_pairs(docs, n_hashes, band_size, n, id_col, text_col)
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    cc = connected_components_star(edges)
    labeled = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(cc, F.col("doc_id") == cc.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("cluster_id"),
        )
    )
    sizes = labeled.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size"),
    )
    # cluster_id IS the minimum doc id of the cluster (star-CC labels each
    # component with its minimum node; singletons label themselves), so the
    # keeper is simply the doc whose id equals its cluster id.
    return labeled.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_keeper"),
    )


def curation_funnel(
    docs: DataFrame,
    quality_threshold: float = 0.5,
    en_threshold: float = 0.05,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Retention through the standard curation chain, one row per stage:
    (stage, stage_name, n_docs, pct_of_input).

    Stages: input → lang_en (stopword-ratio ≥ en_threshold, the
    textstats.lang_id_en contract) → quality (textstats.quality_score ≥
    quality_threshold) → exact_dedup (distinct content among survivors).
    Everything folds in ONE scan + ONE aggregation (the md5 for the dedup
    stage is computed scan-side; only flags and the 16-byte hash shuffle),
    then the single agg row pivots to stage rows with `stack` — no
    multi-pass counting, no driver loop.
    """
    toks = tokens_col(text_col)
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    nt = F.size(toks).cast("double")
    ns = F.size(F.filter(toks, lambda t: F.array_contains(stop, t))).cast(
        "double"
    )
    en_ratio = F.round(ns / F.greatest(nt, F.lit(1.0)), 4)
    quality = F.round(quality_columns(text_col)["quality"], 4)
    flagged = docs.select(
        (en_ratio >= en_threshold).alias("p1"),
        ((en_ratio >= en_threshold) & (quality >= quality_threshold)).alias(
            "p2"
        ),
        F.md5(F.col(text_col)).alias("h"),
    )
    agg = flagged.agg(
        F.count("*").alias("n0"),
        F.sum(F.col("p1").cast("long")).alias("n1"),
        F.sum(F.col("p2").cast("long")).alias("n2"),
        F.count_distinct(F.when(F.col("p2"), F.col("h"))).alias("n3"),
    )
    return agg.selectExpr(
        "stack(4, 0, 'input', n0, 1, 'lang_en', n1, 2, 'quality', n2,"
        " 3, 'exact_dedup', n3) AS (stage, stage_name, n_docs)",
        "n0",
    ).select(
        "stage",
        "stage_name",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round(F.col("n_docs") / F.col("n0"), 4).alias("pct_of_input"),
    )


def token_budget_mix(
    docs: DataFrame,
    budget_per_lang: int = 3000,
    n_parts: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Deterministic training-mix selection: per language, take documents
    in (quality DESC, doc_id ASC) order while the cumulative token count
    stays within ``budget_per_lang``. Returns
    (lang, doc_id, n_tokens, cum_tokens, quality).

    The per-language cumulative sum is a DISTRIBUTED two-phase prefix
    sum, not `Window.partitionBy(lang)` — that window funnels each
    language through ONE task, and at 100 TB one language is most of the
    corpus:

      1. range-partition + sort the corpus by (lang, quality DESC,
         doc_id): each partition holds a contiguous slice of the global
         order, a hot language spanning many partitions;
      2. per-(partition, language) token subtotals — a tiny agg (≤
         n_parts × n_langs rows) — prefix-summed per language over the
         partition index to give each slice its starting offset (the
         window here is over the SUBTOTAL table, bounded rows, not the
         corpus);
      3. intra-slice running sum via a window keyed on (partition id,
         lang) — group size ≤ one partition — plus the broadcast offset.

    The persisted sorted frame pins partition ids consistent between
    phases 2 and 3; the budget-filtered result (bounded by the budgets
    themselves) is checkpointed so the cache releases. At production
    scale the result would stream straight to a table sink — the
    selection plan (``_token_budget_plan``) is unchanged.
    """
    mix, frame = _token_budget_plan(
        docs, budget_per_lang, n_parts, id_col, text_col, lang_col)
    mix = checkpoint(mix)
    frame.unpersist()
    return mix


def _token_budget_plan(
    docs: DataFrame,
    budget_per_lang: int,
    n_parts: int,
    id_col: str,
    text_col: str,
    lang_col: str,
) -> tuple[DataFrame, DataFrame]:
    """``token_budget_mix``'s lazy selection and the persisted sorted
    frame it reads."""
    base = docs.select(
        F.col(lang_col).alias("lang"),
        F.col(id_col).alias("doc_id"),
        F.size(tokens_col(text_col)).cast("long").alias("n_tokens"),
        F.round(quality_columns(text_col)["quality"], 4).alias("quality"),
    )
    frame = (
        base.repartitionByRange(
            n_parts, F.col("lang"), F.desc("quality"), F.col("doc_id")
        )
        .sortWithinPartitions(F.col("lang"), F.desc("quality"), F.col("doc_id"))
        .withColumn("pid", F.spark_partition_id())
        .persist()
    )
    frame.count()  # pin pids before both consumers
    subtotals = frame.groupBy("pid", "lang").agg(
        F.sum("n_tokens").alias("part_tokens")
    )
    offsets = subtotals.select(
        "pid",
        "lang",
        F.coalesce(
            F.sum("part_tokens").over(
                Window.partitionBy("lang")
                .orderBy("pid")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("offset"),
    )
    intra = F.sum("n_tokens").over(
        Window.partitionBy("pid", "lang")
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    mix = (
        frame.withColumn("_intra", intra)
        .join(F.broadcast(offsets), ["pid", "lang"])
        .select(
            "lang",
            "doc_id",
            "n_tokens",
            (F.col("offset") + F.col("_intra")).cast("long").alias(
                "cum_tokens"
            ),
            "quality",
        )
        .filter(F.col("cum_tokens") <= budget_per_lang)
    )
    return mix, frame


def decontaminate(
    docs: DataFrame,
    eval_docs: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Eval-set contamination flags: for every training document, how many
    distinct word ``n``-grams it shares with the evaluation corpus.
    Returns (doc_id, n_contaminated_ngrams, is_contaminated) — one row per
    training doc; drop `is_contaminated` rows to decontaminate.

    Plan shape: eval shingles are a dim (eval suites are thousands of
    docs, not billions) — distinct eval n-grams BROADCAST against the
    training corpus's shingle stream, aggregated per doc, then a left
    join back to all docs so clean documents keep an explicit zero. The
    expensive side (the 100-TB corpus) is touched once, shuffles only
    (doc_id, count) pairs, and never self-joins. The eval-shingle dim is
    left unhinted: eval sets are normally tiny (AQE broadcasts them from
    runtime stats), but if one ever outgrew
    spark.sql.autoBroadcastJoinThreshold the same plan degrades to a
    shuffled join on the shingle key instead of force-broadcasting an
    oversized table.
    """
    from .dedup import shingles

    train_sh = shingles(docs, n=n, id_col=id_col, text_col=text_col)
    eval_sh = (
        shingles(eval_docs, n=n, id_col=id_col, text_col=text_col)
        .select("shingle")
        .distinct()
    )
    hits = (
        train_sh.join(eval_sh, "shingle")
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("n_contaminated_ngrams"))
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(hits, F.col("doc_id") == hits.id, "left")
        .select(
            "doc_id",
            F.coalesce("n_contaminated_ngrams", F.lit(0))
            .cast("long")
            .alias("n_contaminated_ngrams"),
            (F.coalesce("n_contaminated_ngrams", F.lit(0)) > 0).alias(
                "is_contaminated"
            ),
        )
    )
