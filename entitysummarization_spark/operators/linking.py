"""Entity mention detection + linking (G1/G2/G10 of SURVEY.md §2.9).

  - detect_mentions: the batched mention-detect UDF — word-level
    Aho–Corasick automaton (functions/automaton.py) built once on the
    driver from the lexicon, broadcast, walked per document inside
    mapInPandas (reference scan loop: PatternMatchingMachine.java:1906-1984).
  - link_candidates: broadcast hash join of detected surfaces against the
    surface-form dictionary (J1 — the HashMap probe at
    PatternMatchingMachine.java:2013,2040), with the reference's
    attr-tier confidence weight w = 1 − 1/(1 + conf·repetition)
    (:5579-5588).
  - ngd_relatedness: Milne–Witten / NGD semantic relatedness over shared
    in-link sets (G10, :4956-4981) as a self-join + array_intersect —
    used to disambiguate ambiguous surfaces against unambiguous context.

Scale: the dictionary is a dim (broadcast); mention detection is a
stateless map; the NGD self-join is bounded to (doc, candidate, context)
pairs, not all-pairs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.automaton import AhoCorasick, split_sentences, tokenize
from ..session import checkpoint

# attr-tier confidence (reference tiers '1'..'6', high→low confidence;
# weights per PatternMatchingMachine.java:2010,2036-2037)
ATTR_CONF = {1: 1.0, 2: 0.9, 3: 0.8, 4: 0.6, 5: 0.4, 6: 0.3}

# (applicationId, key) → broadcast. Rebuilding + re-pickling +
# re-broadcasting an automaton on EVERY detect_mentions / extract_triples
# call charges the full driver-side build to each query invocation (and
# under host load the re-broadcast fans a fresh torrent to all
# executors); the lexicon is a dim that changes ~never within a session,
# so cache one broadcast per (SparkContext, key). Keying on applicationId
# drops entries belonging to stopped contexts (their broadcasts die with
# the JVM).
_BROADCASTS: dict[tuple, object] = {}


def cached_broadcast(spark: SparkSession, key: tuple, build):
    """One cached ``broadcast(build())`` per (app, ``key``)."""
    app = spark.sparkContext.applicationId
    bc = _BROADCASTS.get((app, key))
    if bc is None:
        for k in [k for k in _BROADCASTS if k[0] != app]:
            del _BROADCASTS[k]
        bc = spark.sparkContext.broadcast(build())
        _BROADCASTS[(app, key)] = bc
    return bc


def detect_mentions(
    spark: SparkSession,
    docs: DataFrame,
    surfaces: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    unit: str = "doc",
) -> DataFrame:
    """(id, surface, freq): maximal AC matches per document, counted.

    freq is the mention-repetition count (A3,
    PatternMatchingMachine.java:1950-1952).

    ``unit="sentence"`` reproduces the reference's news-text entry point
    (EP3): sentence-split first (G13, SentParDetector semantics —
    functions/automaton.split_sentences), then run the AC scan per
    sentence (PatternMatchingMachine.java:1893,1906) so a multi-word
    surface never matches across a sentence boundary. ``"doc"`` (default)
    scans the whole text — the right unit for source code, where the
    line/identifier tokenizer already is the segmentation.
    """
    patterns = tuple(sorted({" ".join(tokenize(s)) for s in surfaces if s.strip()}))
    bc = cached_broadcast(spark, ("mentions", patterns),
                          lambda: AhoCorasick(patterns))
    per_sentence = unit == "sentence"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ac = bc.value
        for b in batches:
            ids, surfs = [], []
            for i, txt in zip(b[id_col], b[text_col]):
                units = split_sentences(txt) if per_sentence else [txt]
                for u in units:
                    for _, _, surf in ac.find(tokenize(u)):
                        ids.append(i)
                        surfs.append(surf)
            yield pd.DataFrame({"id": pd.Series(ids, dtype="int64"),
                                "surface": pd.Series(surfs, dtype="object")})

    hits = docs.select(id_col, text_col).mapInPandas(
        run, schema="id long, surface string"
    )
    return hits.groupBy("id", "surface").agg(
        F.count("*").cast("long").alias("freq")
    )


def link_candidates(
    mentions: DataFrame,   # id, surface, freq
    vocab: DataFrame,      # surface, entity_id, attr, entity_name
    max_attr: int = 6,
) -> DataFrame:
    """J1 broadcast join: mention → candidate entities with confidence
    weight = 1 − 1/(1 + conf·freq)."""
    conf = F.element_at(
        F.create_map(*[F.lit(x) for kv in ATTR_CONF.items() for x in kv]),
        F.col("attr"),
    )
    v = vocab.filter(F.col("attr") <= max_attr)
    return (
        mentions.join(F.broadcast(v), "surface")
        .withColumn("weight", F.round(1.0 - 1.0 / (1.0 + conf * F.col("freq")), 6))
        .select("id", "surface", "entity_id", "entity_name", "attr", "freq", "weight")
    )


def ngd_relatedness(
    links: DataFrame,       # entity (string/long), source (in-link) columns
    entity_col: str,
    source_col: str,
    total: int | None = None,
    min_common: int = 1,
    max_source_degree: int | None = 10_000,
) -> DataFrame:
    """Pairwise NGD relatedness: 1 − (ln max − ln |∩|)/(ln W − ln min)
    over in-link sets (PatternMatchingMachine.java:4956-4981;
    wikipediaSize analog W = total distinct sources unless given).

    Plan: distinct (entity, source) self-join on source (co-link pairs
    only — never all-pairs), groupBy pair → |∩|, broadcast-join sizes.

    Skew guard: one hub source linking k entities emits k² pairs through
    the self-join, so sources above ``max_source_degree`` are dropped
    from the universe up front — the same head-key df-cap discipline as
    the reference's category link cap (F12,
    PatternMatchingMachine.java:105,2428-2434). The trade is recall on
    pairs whose ONLY co-link is a hub — but a source linking >10k
    entities carries ~no relatedness signal anyway (its NGD contribution
    is noise, exactly why the reference caps generic categories at 2000).
    Sizes and the W universe are computed over the capped set, keeping
    the metric internally consistent. ``None`` disables the cap.
    """
    es = links.select(
        F.col(entity_col).alias("entity"), F.col(source_col).alias("src")
    ).distinct()
    if max_source_degree is not None:
        deg_ok = (
            es.groupBy("src").agg(F.count("*").alias("_deg"))
            .filter(F.col("_deg") <= max_source_degree)
            .select("src")
        )
        es = es.join(deg_ok, "src", "semi")
    # es feeds FOUR consumers (sizes, the W universe, both self-join
    # sides) — without persist each one re-scans the input and redoes the
    # distinct + skew-guard shuffles (4 full scans at 100 TB)
    es = es.persist()
    sizes = es.groupBy("entity").agg(F.count("*").cast("long").alias("sz"))
    if total is None:
        total_df = es.select(F.countDistinct("src").alias("_w"))
    else:
        total_df = None

    a, b = es.alias("a"), es.alias("b")
    common = (
        a.join(b, (F.col("a.src") == F.col("b.src"))
               & (F.col("a.entity") < F.col("b.entity")))
        .groupBy(F.col("a.entity").alias("ent_a"), F.col("b.entity").alias("ent_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    sa = sizes.select(F.col("entity").alias("ent_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("entity").alias("ent_b"), F.col("sz").alias("sz_b"))
    # No broadcast hint on the per-entity size table: it is dictionary-
    # cardinality (millions of entities -> 100s of MB), which would pin the
    # driver at a 10x dictionary.  AQE broadcasts it only when it fits.
    j = common.join(sa, "ent_a").join(sb, "ent_b")
    if total is not None:
        j = j.withColumn("_w", F.lit(float(total)))
    else:
        j = j.crossJoin(F.broadcast(total_df))
    # NGD is undefined when the smaller set covers the whole universe
    # (ln W − ln min = 0) — drop those degenerate pairs.
    out = checkpoint(  # pair-count-sized; frees the es cache
        j.filter(F.least("sz_a", "sz_b") < F.col("_w"))
        .select(
            "ent_a",
            "ent_b",
            "n_common",
            F.round(
                1.0
                - (F.log(F.greatest("sz_a", "sz_b")) - F.log("n_common"))
                / (F.log(F.col("_w").cast("double")) - F.log(F.least("sz_a", "sz_b"))),
                4,
            ).alias("sr"),
        )
    )
    es.unpersist()
    return out


def disambiguate(
    candidates: DataFrame,  # id, surface, entity_id, attr, freq, weight
    relatedness: DataFrame,  # ent_a, ent_b, sr (entity_id pairs)
) -> DataFrame:
    """Pick one entity per (doc, surface): context score = avg SR to the
    doc's unambiguous entities, blended with the attr-tier weight
    (G2+G10 composition; reference blend at
    PatternMatchingMachine.java:2451-2457 uses α·score+(1−α)·coverage).
    """
    n_cand = Window.partitionBy("id", "surface")
    c = candidates.withColumn("n_cand", F.count("*").over(n_cand))
    unamb = c.filter(F.col("n_cand") == 1).select(
        "id", F.col("entity_id").alias("ctx_entity")
    )
    sym = relatedness.select("ent_a", "ent_b", "sr").union(
        relatedness.select(
            F.col("ent_b").alias("ent_a"), F.col("ent_a").alias("ent_b"), "sr"
        )
    )
    ctx = (
        c.filter(F.col("n_cand") > 1)
        .join(unamb, "id")
        .join(
            sym,
            (F.col("entity_id") == F.col("ent_a"))
            & (F.col("ctx_entity") == F.col("ent_b")),
            "left",
        )
        .groupBy("id", "surface", "entity_id")
        .agg(F.avg(F.coalesce("sr", F.lit(0.0))).alias("ctx_score"))
    )
    scored = (
        c.join(ctx, ["id", "surface", "entity_id"], "left")
        .withColumn(
            "final_score",
            0.5 * F.col("weight") + 0.5 * F.coalesce("ctx_score", F.lit(0.0)),
        )
    )
    w = Window.partitionBy("id", "surface").orderBy(
        F.desc("final_score"), F.asc("attr"), F.asc("entity_id")
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "n_cand")
    )
