"""TF-IDF and TF-IDF-cosine similarity (A10 / G14 of SURVEY §2).

The reference computes term frequency over category names plus a
Lucene-backed doc-frequency idf (PatternMatchingMachine.java:4499-4522,
4478-4498) and cosine similarity of the resulting sparse vectors
(:4363-4396). Spark-first: one groupBy for tf, one for df, an unhinted
tf⋈df join (AQE broadcasts it while the vocabulary is small, shuffles
when it isn't), and a shared-word self-join for pairwise cosine — the
sparse-vector dot product IS the join+sum, no vectors materialized.

Scale: df is vocabulary-sized — corpus-scaled for an open token stream,
so it is never force-broadcast (only genuinely bounded dims like the
topic-count matrix in tfidf_weight_matrix are); the cosine pair join is
bounded by shared words (cap ubiquitous words with max_df, the F12
link-cap discipline) — never an all-pairs cross product.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..session import checkpoint
from .dedup import tokens_col


def tfidf(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """(doc_id, word, tf, df, tfidf): tf = in-doc count, idf = ln(D/df).

    Natural log, rounded only at the end; D = total docs in input.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("word")
    )
    tf = toks.groupBy("doc_id", "word").agg(
        F.count("*").cast("long").alias("tf")
    )
    df = tf.groupBy("word").agg(F.count("*").cast("long").alias("df"))
    n_docs = docs.select(F.col(id_col)).distinct().count()
    # NO broadcast hint on df: for category names it is a dim, but over an
    # open 100-TB corpus the distinct-token df table is corpus-sized
    # (billions of rows) and a forced broadcast OOMs the driver. Both sides
    # are already hash-partitioned on `word` by their groupBys, so AQE
    # plans this shuffle-free when co-partitioned and auto-broadcasts
    # while the vocabulary is genuinely small.
    return (
        tf.join(df, "word")
        .select(
            "doc_id",
            "word",
            "tf",
            "df",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")),
                    round_to).alias("tfidf"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    top_k: int = 20,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_to: int = 4,
) -> DataFrame:
    """Top-k most-similar doc pairs by cosine over TF-IDF vectors (G14).

    dot(a,b) = Σ_shared tfidf_a·tfidf_b via self-join on word; norms from
    a per-doc aggregate. Words with df > max_df are dropped BEFORE both the
    pair join and the norms (they dominate join cost, contribute least
    signal) — i.e. the cosine is exact over the CAPPED vocabulary, and
    because both the dots and the norms use the same capped vectors the
    metric stays symmetric and oracle-reproducible.
    Ties: (cosine desc, id_a, id_b).
    """
    v = tfidf(docs, id_col, text_col, round_to=10)
    capped = v.filter(F.col("df") <= max_df).select("doc_id", "word", "tfidf")
    capped = capped.persist()
    norms = capped.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("tfidf") ** 2)).alias("norm")
    )
    a, b = capped.alias("a"), capped.alias("b")
    dots = (
        a.join(b, (F.col("a.word") == F.col("b.word"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.sum(F.col("a.tfidf") * F.col("b.tfidf")).alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("id_a"), F.col("norm").alias("norm_a"))
    nb = norms.select(F.col("doc_id").alias("id_b"), F.col("norm").alias("norm_b"))
    # No broadcast hint: `norms` is doc-cardinality (unbounded at corpus
    # scale), and both sides of each join are already keyed on doc id —
    # let AQE pick broadcast only when the stats say it fits.
    cos = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a", "id_b",
            F.round(F.col("dot") / (F.col("norm_a") * F.col("norm_b")),
                    round_to).alias("cosine"),
        )
    )
    # TakeOrderedAndProject top-k (no single-task global window); rnk is
    # re-derived over the k-row result — identical output, distributed sort
    top = (
        cos.orderBy(F.desc("cosine"), F.asc("id_a"), F.asc("id_b"))
        .limit(top_k)
        .transform(checkpoint)  # k rows; frees the capped cache below
    )
    capped.unpersist()
    w = Window.orderBy(F.desc("cosine"), F.asc("id_a"), F.asc("id_b"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("id_a", "id_b", "cosine", "rnk")
    )


def tfidf_weight_matrix(
    cat_word: DataFrame,      # pred_id (topic/category), word_id, freq
    round_to: int = 6,
) -> DataFrame:
    """M5 SontoLDA β-weight matrix: weight(t, w) = tf(t, w) · ln(T / df(w)).

    The reference loads tfIdfMat precomputed from `categoryWordMat.txt`
    (sontoldamodel/SontoLDA.java:524-535) — the file itself comes from the
    A10 TF-IDF pass over category word bags (CategoryProcessor /
    PatternMatchingMachine.java:4499-4522). Here the same matrix is one
    tf aggregate + one df aggregate; pairs absent from the output weigh 0
    (pass ``lam_default=0.0`` in GibbsConfig), matching the reference's
    zero-filled allocation. Note ln(T/df)=0 for words present in every
    topic — they too contribute nothing to the prior, as in the reference.
    """
    tf = cat_word.groupBy("pred_id", "word_id").agg(
        F.sum("freq").cast("double").alias("tf")
    )
    df = tf.groupBy("word_id").agg(F.count("*").cast("long").alias("df"))
    n_topics = cat_word.select("pred_id").distinct().count()
    return (
        tf.join(F.broadcast(df), "word_id")
        .select(
            "pred_id",
            "word_id",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_topics)) / F.col("df")),
                round_to,
            ).alias("weight"),
        )
    )


def valid_names(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """F6 name-validity filter over the distinct token vocabulary:
    length ≥ 3, no leading ' ! &, no ? % +, not purely numeric
    (DictionaryGenerator.java:1255-1292). Returns (word, n_docs)."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("word")
    ).distinct()
    kept = toks.filter(
        (F.length("word") >= 3)
        & ~F.col("word").rlike(r"^['!&]")
        & ~F.col("word").rlike(r"[?%+]")
        & ~F.col("word").rlike(r"^[0-9]+$")
    )
    return kept.groupBy("word").agg(F.count("*").cast("long").alias("n_docs"))
