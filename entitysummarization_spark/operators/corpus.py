"""Corpus build — canonical triples → (doc_id, word_id, freq) bag-of-facts.

Re-expresses EntityProc.makeCorpus (src/esum/EntityProc.java:846-886: the
`corpus.txt` rows `docId wordId freq`) and the model-side constraint /
weight structures:

  - objectToPredicateMap (J3, EntityProc.java:365-403): obj → observed preds
  - λ weight matrix (A6, EntityProc.java:440-453): weight(pred, word) =
    #categories(obj) if (pred,obj) observed and obj categorized, else 1

All pure DataFrame ops; dictionaries are broadcast-joined dims.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonicalize import dense_ids


@dataclass
class Corpus:
    corpus: DataFrame        # doc_id, word_id, freq
    docs: DataFrame          # subj, doc_id
    words: DataFrame         # obj, word_id
    preds: DataFrame         # pred, pred_id
    facts: DataFrame         # doc_id, pred_id, word_id, freq (observed pairs)
    obj_pred: DataFrame      # word_id, pred_ids array (J3 constraint map)
    lam: DataFrame           # pred_id, word_id, weight (λ, sparse — default 1)
    n_preds: int             # rows of preds
    n_words: int             # rows of words


def build_corpus(
    canon: DataFrame,
    entity_category: DataFrame | None = None,
    category_boost: bool = False,
    min_word_freq: int = 1,
) -> Corpus:
    """canonical triples (subj, pred, obj, freq) → Corpus bundle.

    ``category_boost`` replicates the reference's frequency boost (object
    written once per category, EntityProc.java:348-354).
    ``min_word_freq`` is the F10 vocabulary prune
    (ImportData.java:868-895, default wordFrequency=10 in config.properties:85).
    """
    t = canon
    # categories per object, for the boost and for λ; entity→category
    # counts scale with the categorized-entity set — no broadcast hint,
    # AQE picks (auto-broadcasts while tiny)
    ncat = None if entity_category is None else (
        entity_category.groupBy(F.col("entity_name").alias("obj"))
        .agg(F.count("*").alias("ncat")))
    if category_boost and ncat is not None:
        t = (
            t.join(ncat, "obj", "left")
            .withColumn("freq", F.col("freq") * F.greatest(F.lit(1), F.coalesce("ncat", F.lit(1))))
            .drop("ncat")
        )

    # F10 vocabulary prune before ID assignment (kept-vocab side is
    # vocabulary-sized — let AQE pick broadcast vs shuffle)
    word_tot = t.groupBy("obj").agg(F.sum("freq").alias("_tot"))
    kept = word_tot.filter(F.col("_tot") >= min_word_freq).select("obj")
    t = t.join(kept, "obj", "semi") if min_word_freq > 1 else t

    # all three dictionaries in one pass, as the reference interns
    # subjects, predicates and objects in one scan
    ids, sizes = dense_ids(
        canon.select(F.lit("subj").alias("kind"), F.col("subj").alias("name"))
        .unionByName(canon.select(F.lit("pred").alias("kind"),
                                  F.col("pred").alias("name")))
        .unionByName(t.select(F.lit("obj").alias("kind"),
                              F.col("obj").alias("name")))
    )

    def dictionary(kind: str, id_col: str) -> DataFrame:
        return ids.filter(F.col("kind") == kind).select(
            F.col("name").alias(kind), F.col("id").alias(id_col))

    docs = dictionary("subj", "doc_id")
    preds = dictionary("pred", "pred_id")
    words = dictionary("obj", "word_id")

    # Join strategy at scale: `preds` is a genuine dim (a few hundred
    # predicates) — force broadcast. `docs` is one row per SUBJECT DOCUMENT
    # and `words` one per vocabulary term — both scale with the corpus
    # (billions of docs at 100 TB), so broadcasting them would OOM the
    # driver/executors; leave them unhinted and let AQE choose
    # (sort-merge/shuffled-hash at scale, auto-broadcast when tiny).
    facts = (
        t.join(docs, "subj")
        .join(F.broadcast(preds), "pred")
        .join(words, "obj")
        .select("doc_id", "pred_id", "word_id", F.col("freq").cast("int").alias("freq"),
                "subj", "pred", "obj")
    )

    corpus = facts.groupBy("doc_id", "word_id").agg(
        F.sum("freq").cast("int").alias("freq")
    )

    obj_pred = facts.groupBy("word_id").agg(
        F.sort_array(F.collect_set("pred_id")).alias("pred_ids")
    )

    if ncat is not None:
        lam = (
            facts.select("pred_id", "word_id", "obj").distinct()
            .join(ncat, "obj", "left")
            .select(
                "pred_id",
                "word_id",
                F.coalesce(
                    F.when(F.col("ncat") > 0, F.col("ncat").cast("double")),
                    F.lit(1.0),
                ).alias("weight"),
            )
        )
    else:
        lam = facts.select(
            "pred_id", "word_id", F.lit(1.0).alias("weight")
        ).distinct()

    return Corpus(corpus=corpus, docs=docs, words=words, preds=preds,
                  facts=facts, obj_pred=obj_pred, lam=lam,
                  n_preds=sizes.get("pred", 0), n_words=sizes.get("obj", 0))


def constrain_by_types(
    obj_pred: DataFrame,     # word_id, pred_ids array
    obj_types: DataFrame,    # word_id, type_id
    pred_range: DataFrame,   # pred_id, type_id (rdfs:range analog)
) -> DataFrame:
    """M2 domain/range gating (src/esum/EntSum.java:174-212, the typed
    sampler of SURVEY §2.8): a predicate stays a candidate for an object
    only if range(pred) ∩ types(obj) ≠ ∅. Pre-intersecting the J3/J4
    constraint maps keeps the sampler itself unchanged — the gate is a
    semi-join at corpus-build time, not a per-token check.

    Objects with no type rows keep their observed candidates (the
    reference falls back to the unconstrained candidate list when type
    info is missing). Candidate lists never become empty: if the
    intersection would be empty the observed list is kept.
    """
    exploded = obj_pred.select(
        "word_id", F.explode("pred_ids").alias("pred_id")
    )
    typed_ok = (
        exploded.join(obj_types, "word_id")
        .join(pred_range, ["pred_id", "type_id"])
        .select("word_id", "pred_id")
        .distinct()
        .groupBy("word_id")
        .agg(F.sort_array(F.collect_set("pred_id")).alias("typed_pred_ids"))
    )
    return (
        obj_pred.join(typed_ok, "word_id", "left")
        .select(
            "word_id",
            F.when(
                F.size(F.coalesce("typed_pred_ids", F.array())) > 0,
                F.col("typed_pred_ids"),
            ).otherwise(F.col("pred_ids")).alias("pred_ids"),
        )
    )
