"""Canonicalization — skew-aware aggregation of extracted triples, and the
dense string→id dictionaries the corpus is built on.

The reference canonicalizes by interning every string into HashMaps in one
JVM (src/esum/EntityProc.java:338-347,846-886). Distributed, the same step
is a groupBy over keys whose distribution is heavily skewed (head entities
like `java.util.List` / DBpedia `United_States` appear in ~30% of docs —
FIXTURES.md §1). Spark's hash aggregate does a map-side partial combine,
which bounds each head key's share of its reducer; AQE skew handling is on
session-wide.
"""

from __future__ import annotations

from itertools import accumulate

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import checkpoint


def canonical_triples(triples: DataFrame) -> DataFrame:
    """Distinct (subj, pred, obj) with occurrence counts across provenance.

    The A1 'fact bag' aggregation (EntityProc.java:846-886) — one triple row
    per canonical fact, freq = #files asserting it.

    Skew note: for an ALGEBRAIC agg like count, Spark's hash aggregate
    already does a map-side partial combine, so a head key (`United_States`
    / `java.util.List`-class objects) arrives at its reducer as ≤1 partial
    row per map task — the same bound explicit salting would give, with
    ONE shuffle instead of two.
    """
    return triples.groupBy("subj", "pred", "obj").agg(
        F.count("*").cast("long").alias("freq")
    )


def dense_ids(df: DataFrame) -> tuple[DataFrame, dict[str, int]]:
    """Deterministic dense string→long dictionaries, several in one pass.

    ``df`` holds ``(kind, name)`` rows; each kind is its own dictionary.
    Returns ``(kind, name, id)`` — id = the name's rank in sorted-name
    order within its kind, 0-based — and each kind's size. A kind with no
    rows is absent from the sizes.

    The reference assigns IDs in first-seen file order
    (EntityProc.java:338-347) — meaningless under parallel scan order, so we
    assign by sorted name (documented deviation; the mapping stays bijective,
    which is all the model needs). Like the reference, all dictionaries come
    from one scan.

    Scale shape (no single-task window): one range repartition on
    ``(kind, name)``, sorted within each partition. Range partitions are
    ordered and non-overlapping, so a row's global position in
    ``(kind, name)`` order is its partition's offset plus its position in
    the partition (``monotonically_increasing_id``'s low 33 bits), and its
    id is that minus the number of rows of smaller kinds. One collect of
    the per-(partition, kind) counts gives both, wherever the sampled
    boundaries fall. The sorted frame is persisted so the collect and the
    numbering see identical partitions; it is not checkpointed before the
    collect, because a checkpointed sorted frame lost its size statistics
    and `build_corpus`'s `subj` join then broadcast the triples.
    """
    spark = df.sparkSession
    n_parts = spark.sparkContext.defaultParallelism
    d = (
        df.select("kind", "name").distinct()
        .repartitionByRange(n_parts, "kind", "name")
        .sortWithinPartitions("kind", "name")
        .select(
            "kind", "name", F.spark_partition_id().alias("_pid"),
            F.monotonically_increasing_id().bitwiseAND(2**33 - 1).alias("_pos"),
        )
        .persist()
    )
    stats = d.groupBy("_pid", "kind").agg(F.count("*").alias("n")).collect()
    part_rows, sizes = [0] * n_parts, {}
    for r in stats:
        part_rows[r["_pid"]] += r["n"]
        sizes[r["kind"]] = sizes.get(r["kind"], 0) + r["n"]
    kinds = sorted(sizes)   # Spark's string order: UTF-8 bytes = code points
    part_off = dict(zip(range(n_parts), accumulate(part_rows, initial=0)))
    kind_off = dict(zip(kinds, accumulate((sizes[k] for k in kinds), initial=0)))
    out = checkpoint(d.select(
        "kind", "name",
        (F.element_at(_lit_map(part_off, "int"), F.col("_pid"))
         - F.element_at(_lit_map(kind_off, "string"), F.col("kind"))
         + F.col("_pos")).alias("id"),
    ))
    d.unpersist()
    return out, sizes


def _lit_map(m: dict, key_type: str) -> Column:
    """A literal ``map<key_type, bigint>`` column (typed even when empty)."""
    return F.create_map(*[F.lit(x) for kv in m.items() for x in kv]).cast(
        f"map<{key_type},bigint>")
