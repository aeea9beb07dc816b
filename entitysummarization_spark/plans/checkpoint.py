"""Checkpoint / resume of the pipeline's M1 sampler (north_rule).

The reference resumes from file-rename markers (`*_done`,
PatternMatchingMachine.java:2570) plus Java-serialized matrices
(EntSumModel.java:598-701). Here every sampler saves and resumes through
``Chain.save``/``Chain.restore`` (models/chain.py); these are the M1
entry points over them.
"""

from __future__ import annotations

import dataclasses
import json
import os

from pyspark.sql import SparkSession

from ..models.gibbs import DistributedGibbs, GibbsConfig


def save_checkpoint(gibbs: DistributedGibbs, path: str) -> str:
    """``gibbs.save(path)``: the checkpoint dir path/sweep=<n>."""
    return gibbs.save(path)


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
    ``doc_sr`` is the M3 SR edge list the chain was built with; the
    restore refuses an M3 checkpoint without it and an M1 one with it."""
    with open(os.path.join(ckpt_dir, "meta.json")) as f:
        saved = json.load(f)["config"]
    # checkpoints written before the checkpoint-dir rule carry the
    # retired reliable_checkpoint field
    saved.pop("reliable_checkpoint", None)
    cfg = GibbsConfig(**saved)
    if kernel is not None:
        cfg = dataclasses.replace(cfg, kernel=kernel)
    g = DistributedGibbs(spark, corpus, obj_pred, lam_df, cfg, doc_sr=doc_sr)
    g.restore(ckpt_dir)
    return g
