"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime re-plan + skew-join splitting), Arrow on (all our Python code is
pandas-UDF batched, never per-row), shuffle partitions sized to cores
instead of the 200 default. On a 1000-executor cluster the same builder is
used with ``master`` unset (picked up from spark-submit) and
``spark.sql.shuffle.partitions`` sized to ~2-3× total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "entitysummarization_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master=None`` → ``local[$SPARK_GRAFT_CPUS or *]`` when no cluster
    master is configured, so tests/bench run the same code path as a
    spark-submit deployment.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        n = os.cpu_count() or 8
        shuffle_partitions = max(8, min(64, n))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # with a checkpoint dir, every lineage cut (``checkpoint`` below)
        # writes a reliable checkpoint, one per loop round or sweep;
        # without this flag old checkpoint files are never deleted and a
        # long run accumulates O(n_iter × dataset) in the checkpoint dir
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        # a heap that fits a 15 GB, 4-vCPU host; SPARK_DRIVER_MEM overrides
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "6g"))
        # broadcast threshold: our dictionaries are a few MB; default 10MB ok,
        # we still mark dims with broadcast() explicitly at call sites.
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Cut ``df``'s lineage: the one checkpoint rule of the engine.

    With a checkpoint dir (``sparkContext.setCheckpointDir``, a DFS path
    on a cluster) this is a reliable ``checkpoint()``, which survives
    executor loss. It is always eager: a lazy reliable checkpoint
    recomputes the RDD a second time to write it unless it is already
    persisted. Without a dir it is an executor-local
    ``localCheckpoint(eager=eager)``: cheap, but a lost executor's blocks
    cannot be recomputed, so the job that needed them fails."""
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)
