"""Similarity search over embedding columns (array<float>).

Two paths:
  - brute-force cosine top-k: exact baseline; O(Q×N) score pairs but the
    score math stays JVM-side (zip_with/aggregate inside codegen), and the
    top-k is a per-query window — no driver collection.
  - lsh_bucketed_topk: the scale path — random-hyperplane LSH buckets
    (SimHash for vectors); only bucket-mates are scored. At 100 TB the
    bucket join replaces the full cross product; recall is tuned by
    n_planes / n_tables.

  - ivf_topk: inverted-file ANN — a coarse quantizer assigns each vector
    to its nearest codebook cell; queries probe their n_probe nearest
    cells and score only the vectors filed there. The codebook is either
    seeded-random (engine-portable: the DuckDB oracle inlines the same
    literals) or k-means-trained via pyspark.ml (`kmeans_codebook`, the
    production quantizer — pytest recall-gated).
"""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    (query_id, rank, neighbor_id, cosine). Vectors are cast to double
    before any arithmetic so results are engine-portable; ties broken by
    neighbor_id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    c = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv"))),
                round_to,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )


def hyperplane_bits(
    emb: DataFrame,
    dim: int,
    n_planes: int,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, b0..b{n-1}): sign bit per random hyperplane, JVM-side dot
    products (fold in array-index order — engine-portable). Shared by the
    bucket builders below; planes are deterministic from the seed."""
    planes = plane_matrix(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    return emb.select(
        F.col(id_col).alias("id"),
        *[
            F.when(
                _dot(v, F.array(*[F.lit(float(x)) for x in planes[p]])) >= 0,
                F.lit(1),
            ).otherwise(F.lit(0)).alias(f"b{p}")
            for p in range(n_planes)
        ],
    )


def plane_matrix(dim: int, n_planes: int, seed: int) -> "np.ndarray":
    """Deterministic random hyperplanes — one source of truth for the Spark
    operators AND the DuckDB oracles (which inline these floats as SQL
    literals), so both engines bucket identically."""
    return np.random.RandomState(seed).randn(n_planes, dim)


def embedding_neardup(
    emb: DataFrame,
    dim: int,
    threshold: float = 0.4,
    n_bits: int = 16,
    band_bits: int = 1,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine ≥ threshold — the scale
    path: SimHash-banded LSH blocking + exact re-score, never an all-pairs
    cross join.

    Plan: n_bits hyperplane sign bits per vector (computed ONCE) → banded
    into n_bits/band_bits buckets (the MinHash-banding trick applied to
    hyperplane bits) → equi-join on (band, bucket) → distinct candidate
    pairs → exact cosine → filter ≥ threshold. A pair at angle θ collides
    in one band w.p. (1−θ/π)^band_bits, so the miss probability decays as
    (1−(1−θ/π)^band_bits)^n_bands — with the default 16×1-bit bands a
    θ=66° (cos 0.4) pair is missed w.p. (66/180)^16 ≈ 1e-7, i.e. recall
    is 1.0 at verification scale (asserted against the exact cross join in
    tests and reproduced bit-for-bit by the DuckDB oracle, which shares
    the plane literals). At 100 TB the knobs move the other way
    (band_bits 4–8 → smaller buckets, documented recall <1): the shuffle
    keys are (band, bucket) — n_bands×N small rows — and the only joins
    are equi-joins, so the plan survives scale-out; the single hot spot
    would be a degenerate bucket (all-equal vectors), which AQE skew-join
    splits.
    """
    if n_bits % band_bits != 0:
        # a bare assert vanishes under -O and would silently drop bits
        # (n_bands floor-division), weakening the miss-probability bound
        raise ValueError(f"n_bits={n_bits} not divisible by band_bits={band_bits}")
    n_bands = n_bits // band_bits
    bits = hyperplane_bits(emb, dim, n_bits, seed, id_col, vec_col)
    bands = bits.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(bi).alias("band"),
                    F.concat_ws(
                        "", *[F.col(f"b{bi * band_bits + j}")
                              for j in range(band_bits)]
                    ).alias("bucket"),
                )
                for bi in range(n_bands)
            ])
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    ea = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    eb = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb"))),
                round_to,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def hyperplane_buckets(
    emb: DataFrame,
    dim: int,
    n_planes: int = 12,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH: (id, bucket), the bucket the
    ``hyperplane_bits`` sign bits joined into one '0'/'1' string."""
    bits = hyperplane_bits(emb, dim, n_planes, seed, id_col, vec_col)
    return bits.select("id", F.concat(*[
        F.col(f"b{p}").cast("string") for p in range(n_planes)
    ]).alias("bucket"))


def lsh_bucketed_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 10,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: score only pairs sharing a bucket in ANY of
    ``n_tables`` independent hash tables (the standard recall amplifier —
    miss probability decays exponentially in n_tables).

    Shuffle shape at scale: the candidate join keys on (table, bucket) —
    n_tables×N small rows — instead of the N×N cross product of the exact
    path; duplicate candidate pairs across tables are deduped before the
    (expensive) exact re-score.
    """
    tables = [
        hyperplane_buckets(
            emb, dim, n_planes, seed + 7919 * t, id_col, vec_col
        ).withColumn("tbl", F.lit(t))
        for t in range(n_tables)
    ]
    b = tables[0]
    for t in tables[1:]:
        b = b.unionByName(t)
    a, c = b.alias("a"), b.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.tbl") == F.col("c.tbl"))
            & (F.col("a.bucket") == F.col("c.bucket"))
            & (F.col("a.id") != F.col("c.id")),
        )
        .select(F.col("a.id").alias("query_id"), F.col("c.id").alias("neighbor_id"))
        .distinct()
    )
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    scored = (
        cand.join(e.withColumnRenamed("id", "query_id")
                  .withColumnRenamed("v", "qv"), "query_id")
        .join(e.withColumnRenamed("id", "neighbor_id")
              .withColumnRenamed("v", "cv"), "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv"))),
                4,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )

def codebook_matrix(dim: int, n_cells: int, seed: int) -> "np.ndarray":
    """Deterministic random codebook — like plane_matrix, the single source
    of truth for the Spark operator AND the DuckDB oracle (which inlines
    these floats as literals), so cell assignment is identical across
    engines."""
    return np.random.RandomState(seed).randn(n_cells, dim)


def kmeans_codebook(
    emb: DataFrame,
    n_cells: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    vec_col: str = "embedding",
) -> "np.ndarray":
    """Train the IVF coarse quantizer with distributed k-means
    (pyspark.ml.clustering.KMeans — seeded k-means|| init, executor-side
    Lloyd iterations). Only the n_cells×dim codebook reaches the driver.
    At corpus scale train on a sample (`emb.sample(...)`): the quantizer
    needs cluster STRUCTURE, not every row."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = emb.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(train)
    return np.array(
        [np.asarray(c, dtype=np.float64) for c in model.clusterCenters()]
    )


def ivf_assign(
    emb: DataFrame,
    codebook: "np.ndarray",
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, cell) for each vector's ``n_probe`` nearest codebook cells.

    All JVM-side: squared L2 to cell c is computed as v·v − 2·v·c + c·c
    with c·c a Python-float literal and both dot products in-array-order
    folds — the exact expression the DuckDB oracle evaluates, so argmin
    (ties broken by cell id, via the struct sort) matches across engines.
    """
    v = F.col("__v")
    vv = _dot(v, v)
    cells = F.array(*[
        F.struct(
            (
                vv
                - 2.0 * _dot(v, F.array(*[F.lit(float(x)) for x in c]))
                + F.lit(float(sum(float(x) * float(x) for x in c)))
            ).alias("dist"),
            F.lit(i).alias("cell"),
        )
        for i, c in enumerate(codebook)
    ])
    return (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("__v"),
        )
        .select(
            "id",
            F.explode(F.slice(F.array_sort(cells), 1, n_probe)).alias("s"),
        )
        .select("id", F.col("s.cell").alias("cell"))
    )


def ivf_topk(
    emb: DataFrame,
    dim: int,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    seed: int = 42,
    codebook: "np.ndarray | None" = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k: index vectors are filed under their single
    nearest cell; each query probes its ``n_probe`` nearest cells and
    exact-rescores only the vectors filed there.

    Shuffle shape at scale: the candidate join keys on cell id — each
    query touches ~n_probe·N/n_cells candidates instead of N, and the
    only joins are equi-joins on a small int key, so the plan is the
    same bucket-join shape as the LSH path. Size n_cells ~ √N at corpus
    scale (the standard IVF rule) so both the per-cell list and the
    codebook stay balanced; a hot cell (dense embedding region) is a
    skewed join key, which AQE skew-join splits. ``codebook=None`` uses
    the seeded random codebook (engine-portable, oracle-checkable);
    pass ``kmeans_codebook(emb, ...)`` for the trained quantizer —
    recall at equal n_probe is higher because cells follow the data.
    n_probe=n_cells degenerates to exhaustive search (recall 1.0, the
    pytest invariant).
    """
    if codebook is None:
        codebook = codebook_matrix(dim, n_cells, seed)
    filed = ivf_assign(emb, codebook, 1, id_col, vec_col)
    probes = ivf_assign(emb, codebook, n_probe, id_col, vec_col)
    cand = (
        probes.withColumnRenamed("id", "query_id")
        .join(filed.withColumnRenamed("id", "neighbor_id"), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    e = emb.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    scored = (
        cand.join(
            e.withColumnRenamed("id", "query_id").withColumnRenamed("v", "qv"),
            "query_id",
        )
        .join(
            e.withColumnRenamed("id", "neighbor_id").withColumnRenamed("v", "cv"),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qv"), F.col("cv"))
                / (_norm(F.col("qv")) * _norm(F.col("cv"))),
                4,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cosine")
    )
