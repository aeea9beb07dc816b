"""Source readers (SURVEY §2.1 S7/S8) — the engine's scan layer.

The reference reads line files, whole-document strings and directories of
documents one java.io stream at a time (ModelParameters.java:148-163;
EntityProc.java:888-922; PatternMatchingMachine.java:1874-1876). Spark
replaces every one of them with a distributed scan; these helpers add the
two policies every caller here needs:

  - ``read_table``: parquet scan + a re-split to the session's
    parallelism. Small single-row-group files arrive as ONE
    partition, which would serialize every downstream CPU-heavy stage
    (tokenize/shingle/hash) on one core; at real scale file splitting
    makes this a no-op, and the explicit repartition keeps local runs
    honest about parallel plans.
  - ``read_text_dir``: directory-of-documents (S8) as (path, content)
    rows via Spark's wholetext reader — the RSS/news-file iteration of
    the reference, one scan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).repartition(
        spark.sparkContext.defaultParallelism)


def read_text_dir(spark: SparkSession, directory: str) -> DataFrame:
    """(path, content) per document file — the S8 directory scan."""
    return (
        spark.read.option("wholetext", "true")
        .text(f"{directory}/*")
        .withColumn("path", F.input_file_name())
        .select("path", F.col("value").alias("content"))
    )
