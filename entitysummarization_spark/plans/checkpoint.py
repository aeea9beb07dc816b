"""Checkpoint / resume for the iterative sampler (north_rule requirement).

The reference's resume story is file-rename markers (`*_done`,
PatternMatchingMachine.java:2570) plus Java-serialized matrices
(EntSumModel.java:598-701). Ours: the sampler's z-state (one row per doc)
is written to a Parquet checkpoint every k sweeps together with a lineage
table and the chain's full config; resume reads the latest checkpoint
and ends in the chain's count-only pass: one job that checkpoints the
z-state and rebuilds the global counts exactly from it (they are a pure
function of it), then continues the sweep schedule. Because RNG is
seeded per (base_seed, sweep, doc), run(10) and
run(5)+checkpoint+resume+run(5) on one partition produce bit-identical
states. A checkpoint records whether the chain is M3 (SR-smoothed α),
and a resume that does not pass the same ``doc_sr`` choice is refused.
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..models.gibbs import DistributedGibbs, GibbsConfig


def save_checkpoint(gibbs: DistributedGibbs, path: str) -> str:
    """Write state + lineage + meta under path/sweep=<n>. Idempotent
    overwrite (re-running a failed save is safe)."""
    sweep = gibbs.sweeps_done
    d = os.path.join(path, f"sweep={sweep:05d}")
    gibbs.state.write.mode("overwrite").parquet(os.path.join(d, "state"))
    lineage = gibbs.state.groupBy(F.spark_partition_id().alias("partition_id")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size("words")).alias("n_tokens"),
    )
    lineage.write.mode("overwrite").parquet(os.path.join(d, "lineage"))
    # the full config: a resume must continue the chain under exactly the
    # settings it was sampled with (λ default, ε, kernel, fusion)
    # and with or without M3's SR neighbours
    meta = {"sweeps_done": sweep, "config": dataclasses.asdict(gibbs.cfg),
            "m3": gibbs.doc_sr is not None}
    tmp = os.path.join(d, "_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(meta, f)
    os.replace(tmp, os.path.join(d, "meta.json"))  # atomic commit marker
    return d


def latest_checkpoint(path: str) -> str | None:
    if not os.path.isdir(path):
        return None
    done = [
        d for d in sorted(os.listdir(path))
        if d.startswith("sweep=")
        and os.path.exists(os.path.join(path, d, "meta.json"))
    ]
    return os.path.join(path, done[-1]) if done else None


def load_checkpoint(
    spark: SparkSession,
    ckpt_dir: str,
    corpus,
    obj_pred,
    lam_df,
    kernel: str | None = None,
    doc_sr=None,
) -> DistributedGibbs:
    """Rebuild a DistributedGibbs positioned at the checkpointed sweep.

    ``kernel`` overrides the checkpoint's recorded kernel — both kernels
    are bit-identical, so a chain checkpointed under one may resume under
    the other; test_gibbs.py asserts the cross-kernel resume equality.
    ``doc_sr`` is the M3 SR edge list the chain was built with; it must
    be given exactly when the checkpoint is an M3 chain's."""
    with open(os.path.join(ckpt_dir, "meta.json")) as f:
        meta = json.load(f)
    m3 = meta.get("m3", False)
    if m3 != (doc_sr is not None):
        raise ValueError(
            f"{ckpt_dir} holds {'an M3' if m3 else 'a non-M3'} chain: "
            "pass doc_sr exactly when resuming an M3 chain"
        )
    # checkpoints written before the checkpoint-dir rule carry the
    # retired reliable_checkpoint field
    meta["config"].pop("reliable_checkpoint", None)
    cfg = GibbsConfig(**meta["config"])
    if kernel is not None:
        cfg = dataclasses.replace(cfg, kernel=kernel)
    g = DistributedGibbs(spark, corpus, obj_pred, lam_df, cfg, doc_sr=doc_sr)
    g.state = (
        spark.read.parquet(os.path.join(ckpt_dir, "state"))
        .repartition(cfg.n_partitions, "doc_id")
        .sortWithinPartitions("doc_id")
    )
    g._refresh_global_counts()
    g.sweeps_done = meta["sweeps_done"]
    return g
