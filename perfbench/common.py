"""Helpers shared by the workloads: input cache, chain quality and
correctness checks, Spark cache hygiene between passes."""

from __future__ import annotations

import hashlib
import math
import os
import shutil
from collections.abc import Callable

import numpy as np
import pandas as pd

_lgamma = np.vectorize(math.lgamma, otypes=[float])


def cached_inputs(root: str, key: str,
                  build: Callable[[], dict[str, pd.DataFrame]]) -> dict:
    """Parquet tables under ``root/key``, built by ``build`` on a miss.
    The key carries the seed and the size, so a hit returns exactly what
    ``build`` would make."""
    d = os.path.join(root, key)
    if not os.path.isdir(d):
        tmp = f"{d}.tmp{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        for name, df in build().items():
            df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False)
        os.replace(tmp, d)
    return {
        f[: -len(".parquet")]: os.path.join(d, f)
        for f in sorted(os.listdir(d))
    }


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def release_cached(spark) -> None:
    """Drop every persisted RDD and cached table, so one pass starts from
    the same cache state as the next. The samplers' local checkpoints are
    RDD-level and invisible to ``catalog.clearCache``."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def sweep_counts(span: dict, g) -> None:
    """Counts at a DistributedGibbs sweep boundary: tokens resampled,
    tokens whose predicate changed, and the per-sweep (Nwp, Np) broadcast
    size."""
    span["tokens"] = int(g.np_.sum()) * span["sweeps"]
    span["changed"] = int(g.last_sweep_changes)
    span["bcast_bytes"] = int(g.nwp.nbytes + g.np_.nbytes)


def flat_state(g) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(doc index per token, word per token, predicate per token) of a
    DistributedGibbs chain, collected from its public ``state`` in doc_id
    order."""
    pdf = (g.state.select("doc_id", "words", "zs").toPandas()
           .sort_values("doc_id"))
    lens = np.fromiter((len(w) for w in pdf["words"]), np.int64, len(pdf))
    doc = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
    ws = np.concatenate([np.asarray(w, dtype=np.int64) for w in pdf["words"]])
    zs = np.concatenate([np.asarray(z, dtype=np.int64) for z in pdf["zs"]])
    return doc, ws, zs


def digest(*arrays) -> str:
    """sha256 over the arrays' bytes: equal digests = equal outputs."""
    h = hashlib.sha256()
    for a in arrays:
        h.update(np.ascontiguousarray(a).tobytes())
    return h.hexdigest()


def neg_loglik_per_token(g, doc, ws, zs) -> float:
    """−log p(w, z) / N of the constrained AD-LDA model at the chain's
    current state: the Dirichlet–multinomial joint over predicate–word
    counts (prior λ·β) and doc–predicate counts (prior α). Terms with a
    zero count cancel, so only observed cells are visited."""
    cfg = g.cfg
    P, a = cfg.n_preds, cfg.alpha_eff
    lb = g.lam * cfg.beta
    slb = lb.sum(axis=1)
    nwp = g.nwp
    nz = nwp > 0
    ll = float(np.sum(_lgamma(slb) - _lgamma(g.np_ + slb)))
    ll += float(np.sum(_lgamma(nwp[nz] + lb[nz]) - _lgamma(lb[nz])))
    nd = np.bincount(doc)
    _, npd = np.unique(doc * P + zs, return_counts=True)
    ll += nd.size * math.lgamma(P * a) - float(np.sum(_lgamma(nd + P * a)))
    ll += float(np.sum(_lgamma(npd + a))) - npd.size * math.lgamma(a)
    return -ll / ws.size


def chain_checks(g, ws, zs) -> list[tuple[str, bool]]:
    """Delta-maintained counts equal a recount from the z-state, and every
    token's predicate is one of its word's candidates."""
    P, W = g.cfg.n_preds, g.cfg.n_words
    recount = np.bincount(zs * W + ws, minlength=P * W).reshape(P, W)
    allowed = np.concatenate([p * W + w for w, p in g.cand.items()])
    return [
        ("nwp_equals_recount_from_z", bool(np.array_equal(recount, g.nwp))),
        ("z_in_candidate_set", bool(np.isin(zs * W + ws, allowed).all())),
    ]
