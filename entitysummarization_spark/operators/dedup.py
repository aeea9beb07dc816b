"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all shuffle-aware and expressed as DataFrame plans:

  - exact_dedup: content-hash groupBy (map-side partial agg; the hash is
    computed scan-side so only (hash, id) shuffles, never the content).
  - ngram_jaccard_pairs: word n-gram shingles → shared-shingle candidate
    join → exact Jaccard. The candidate join is the scale lever: pairs are
    generated per shingle, so ubiquitous shingles explode quadratically —
    `max_df` drops shingles seen in more than that many docs (the same
    head-key discipline as the category link-cap F12,
    PatternMatchingMachine.java:105,2428-2434).
  - minhash_lsh_pairs: MinHash signatures banded into LSH buckets; only
    bucket-mates are verified. Hashing is md5-based (not xxhash) so the
    DuckDB oracle can reproduce signatures bit-for-bit.
  - simhash_md5: 60-bit SimHash per doc for near-dup blocking.

At 100 TB: exact dedup is one shuffle on an 8-byte hash; LSH shuffles
(n_bands × docs) small keys; verification joins touch only candidate
pairs. Nothing collects to the driver.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..session import checkpoint


def tokens_col(text_col: str = "text"):
    """Shared tokenization contract (also used by the DuckDB oracles):
    lowercase, split on single space, drop empties."""
    return F.filter(F.split(F.lower(F.col(text_col)), " "), lambda x: x != "")


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per distinct content: (keeper_id, n_copies, content_md5)."""
    return (
        docs.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
        .select("keeper_id", "n_copies", "content_md5")
    )


def shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id",
             text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).

    Tokenization happens ONCE per row in a projection *below* the
    Generate: inlining `tokens_col()` into the per-position slice lambda
    would re-split the document once per shingle position (higher-order
    functions are interpreted — no codegen subexpression elimination),
    a ~tokens× blowup verified in the physical plan.
    """
    toked = docs.select(
        F.col(id_col).alias("id"), tokens_col(text_col).alias("_toks")
    )
    t = F.col("_toks")
    # sequence(0, k) flips to descending when k < 0 → guard short docs
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(0), F.size(t) - n)
    ).otherwise(F.array().cast("array<int>"))
    sh = F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(t, i + 1, n)))
    )
    return toked.select("id", F.explode(sh).alias("shingle"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    top_k: int = 20,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k most-similar doc pairs by exact n-gram Jaccard.

    Plan: shingles → (df-capped) self-join on shingle → count common →
    |A∪B| = |A|+|B|−|∩| → rank. Deterministic tiebreak (jac desc, a, b).
    """
    sh = shingles(docs, n, id_col, text_col).persist()
    sizes = sh.groupBy("id").agg(F.count("*").cast("long").alias("sz"))
    df_cap = (
        sh.groupBy("shingle").agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= max_df)
        .select("shingle")
    )
    sh_c = sh.join(F.broadcast(df_cap), "shingle")
    a, b_ = sh_c.alias("a"), sh_c.alias("b")
    common = (
        a.join(b_, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (
        common.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common")
                / (F.col("sz_a") + F.col("sz_b") - F.col("n_common")),
                4,
            ),
        )
    )
    # Distributed top-k: orderBy().limit() plans TakeOrderedAndProject
    # (per-partition partial top-k, merged on the driver) instead of
    # funnelling every candidate pair through ONE global-window task.
    # rnk is re-derived on the k-row result — identical output, and the
    # (jac desc, id_a, id_b) key is a total order so limit() is stable.
    top = (
        jac.orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
        .limit(top_k)
        .transform(checkpoint)  # k rows; frees the shingle cache below
    )
    sh.unpersist()
    w = Window.orderBy(F.desc("jaccard"), F.asc("id_a"), F.asc("id_b"))
    return (
        top.withColumn("rnk", F.row_number().over(w))
        .select("id_a", "id_b", "n_common", "jaccard", "rnk")
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash signature per doc: (id, sig array<string>).

    Hash_i(shingle) = md5(i || '|' || shingle); the min is a string min —
    identical in any engine with md5, which is what makes the DuckDB
    oracle exact. For raw throughput a xxhash64 variant is a drop-in
    (F.xxhash64), traded away here for cross-engine verifiability.
    """
    sh = shingles(docs, n, id_col, text_col)
    hashed = sh.select(
        "id",
        *[
            F.md5(F.concat(F.lit(f"{i}|"), F.col("shingle"))).alias(f"h{i}")
            for i in range(n_hashes)
        ],
    )
    return hashed.groupBy("id").agg(
        F.array(*[F.min(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.

    bucket = md5(band_idx || concat(band minhashes)); pairs deduped across
    bands. Returns (id_a, id_b, n_bands_shared).
    """
    sig = minhash_signatures(docs, n_hashes, n, id_col, text_col)
    n_bands = n_hashes // band_size
    bands = sig.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                F.lit(str(bi)),
                                *[
                                    F.element_at("sig", bi * band_size + j + 1)
                                    for j in range(band_size)
                                ],
                            )
                        ).alias("bucket"),
                    )
                    for bi in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    # the bands subtree feeds BOTH sides of the self-join — persist so the
    # shingle+signature pipeline (the expensive part) runs once, not twice
    bands = bands.persist()
    a, b_ = bands.alias("a"), bands.alias("b")
    pairs = (
        a.join(
            b_,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").cast("long").alias("n_bands_shared"))
        # candidate-pair table is near-dup-sized (≪ input); materializing it
        # (checkpoint storage, never the driver) lets the bands cache be
        # released instead of accumulating across invocations
        .transform(checkpoint)
    )
    bands.unpersist()
    return pairs


def simhash_md5(
    docs: DataFrame,
    n_bits: int = 60,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash per doc from md5-derived token bits: (id, simhash).

    Token hash = first 15 hex chars of md5 parsed base-16 (60 bits —
    stays in positive BIGINT range in every engine), per-bit ±1 votes
    summed over token OCCURRENCES, sign → bit. md5-based, so a DuckDB
    oracle (``simhash_md5_sql``) reproduces it bit-for-bit (the same
    cross-engine trick as MinHash signatures).
    """
    toks = docs.select(
        F.col(id_col).alias("id"), F.explode(tokens_col(text_col)).alias("tok")
    )
    h = toks.select(
        "id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    bit_cols = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1,
                   F.lit(1)).otherwise(F.lit(-1))
        ).alias(f"b{i}")
        for i in range(n_bits)
    ]
    agg = h.groupBy("id").agg(*bit_cols)
    return agg.select(
        "id",
        sum(
            [F.when(F.col(f"b{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
             .cast("long") for i in range(n_bits)],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )


def simhash_md5_sql(n_bits: int = 60, table: str = "documents") -> str:
    """DuckDB-equivalent SQL for ``simhash_md5`` (shares the tokenization
    contract; hex→int via the '0x' cast)."""
    toks = "list_filter(string_split(lower(text), ' '), x -> x <> '')"
    bits = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(n_bits)
    )
    recon = " + ".join(
        f"(CASE WHEN b{i} > 0 THEN {1 << i}::BIGINT ELSE 0 END)"
        for i in range(n_bits)
    )
    return f"""
        WITH t AS (SELECT doc_id AS id, unnest({toks}) AS tok FROM {table}),
        h AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM t),
        votes AS (SELECT id, {bits} FROM h GROUP BY id)
        SELECT id, ({recon})::BIGINT AS simhash FROM votes
    """
