"""One Arrow block runner for the AD-LDA samplers (M1 and M6).

Every sweep of DistributedGibbs (models/gibbs.py) and DistributedOntoPart
(models/ontopart.py) is one ``mapInArrow`` pass over the doc-partitioned
token state. This module owns everything about that pass that does not
depend on the model:

  - parsing a RecordBatch into flat int64 arrays: doc ids, token offsets,
    words, and one writable array per state column. Arrow list columns
    already hold a flat values buffer plus offsets, which is exactly the
    compiled kernels' input layout;
  - running k sweeps over the partition, each sweep's per-doc RNG seeded
    by ``oracle.seed_for(base_seed, sweep, doc)`` (vectorized in
    ``doc_seeds``), so the random numbers never depend on partitioning
    or fusion;
  - regrouping each sweep's changed-token columns per doc
    (``_interleave_doc_delta_cols``) and rewrapping every output as a
    ListArray.

A model supplies one batch-sweep callable ``step(block, seeds) ->
(delta_cols, per_doc_counts)``. It owns the partition-local working
copies of the global counts (the AD-LDA approximation: stale across
partitions, exact within one) and mutates ``block.state`` in place. Each
model's callable runs the compiled C kernel when
``native_kernel.load_native()`` succeeds on that executor, and otherwise
its interpreted twin. The two are bit-identical, so a cluster that mixes
both still produces one chain.

With k = 1 the runner streams batch by batch. With k > 1 (a fused block,
``sweeps_per_job``) it buffers the partition, sweeps it k times with the
local counts carried from sweep to sweep, and emits every sweep's deltas
so the driver reconstructs the exact global counts at the block boundary.
With one partition a fused block is bit-identical to k unfused sweeps.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import NamedTuple

import numpy as np
import pyarrow as pa


class Block(NamedTuple):
    rb: pa.RecordBatch        # the input batch (extra columns stay readable)
    doc_ids: np.ndarray       # int64[n_docs]
    indptr: np.ndarray        # int64[n_docs+1] token offsets per doc
    ws: np.ndarray            # int64[n_tok] words
    state: list[np.ndarray]   # writable int64[n_tok] per state column


def doc_seeds(base_seed: int, sweep: int, doc_ids: np.ndarray) -> np.ndarray:
    """Vectorized ``oracle.seed_for`` — the same integer arithmetic in
    int64 (far below 2**63 for any int32 doc id), as the uint32 seeds the
    MT19937 kernels take."""
    return (
        (base_seed * 1_000_003 + sweep * 10_007 + doc_ids * 131)
        % (2**32 - 1)
    ).astype(np.uint32)


def _flat(col) -> np.ndarray:
    return col.flatten().to_numpy(zero_copy_only=False)


def _block(rb: pa.RecordBatch, state_cols: tuple[str, ...]) -> Block:
    words = rb.column("words")
    off = words.offsets.to_numpy(zero_copy_only=False)
    return Block(
        rb,
        rb.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64),
        (off - off[0]).astype(np.int64),
        np.ascontiguousarray(_flat(words), dtype=np.int64),
        # np.array copies: the kernels mutate the state in place
        [np.array(_flat(rb.column(c)), dtype=np.int64) for c in state_cols],
    )


def _interleave_doc_delta_cols(n_docs, per_sweep):
    """Regroup per-sweep changed-token columns by doc.

    ``per_sweep`` is a list of (cols, counts) — one entry per fused
    sweep, ``cols`` a tuple of that sweep's flat changed-token arrays
    (any number of parallel columns) and ``counts`` the per-doc change
    counts. Returns (out_cols, offsets) where offsets (int64[n_docs+1])
    delimits each doc's deltas from ALL sweeps, sweep-ordered within a
    doc. Pure index arithmetic, O(total changes)."""
    n_cols = len(per_sweep[0][0]) if per_sweep else 0
    total_counts = np.zeros(n_docs, dtype=np.int64)
    for _, cc in per_sweep:
        total_counts += cc
    offsets = np.zeros(n_docs + 1, dtype=np.int64)
    np.cumsum(total_counts, out=offsets[1:])
    total = int(offsets[-1])
    out_cols = tuple(np.empty(total, dtype=np.int64) for _ in range(n_cols))
    acc = np.zeros(n_docs, dtype=np.int64)
    for cols, cc in per_sweep:
        m = int(cc.sum())
        if m == 0:
            continue
        starts = offsets[:-1] + acc
        seg0 = np.zeros(n_docs, dtype=np.int64)
        np.cumsum(cc[:-1], out=seg0[1:])
        pos = np.repeat(starts - seg0, cc) + np.arange(m, dtype=np.int64)
        for out, col in zip(out_cols, cols):
            out[pos] = col
        acc += cc
    return out_cols, offsets


def _list(off: np.ndarray, vals: np.ndarray) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(off), pa.array(vals))


def _emit(blk: Block, per_sweep, names: list[str]) -> pa.RecordBatch:
    cols, ch_off = _interleave_doc_delta_cols(len(blk.indptr) - 1, per_sweep)
    off32 = blk.indptr.astype(np.int32)
    ch32 = ch_off.astype(np.int32)
    return pa.RecordBatch.from_arrays(
        [blk.rb.column("doc_id"), blk.rb.column("words")]
        + [_list(off32, s) for s in blk.state]
        + [_list(ch32, c) for c in cols],
        names=names,
    )


def run_sweeps(
    batches: Iterator[pa.RecordBatch],
    step: Callable[[Block, np.ndarray], tuple],
    base_seed: int,
    sweep0: int,
    k: int,
    state_cols: tuple[str, ...],
    delta_cols: tuple[str, ...],
) -> Iterator[pa.RecordBatch]:
    """Sweeps ``sweep0 .. sweep0+k-1`` over one partition's batches.

    Output batches are (doc_id, words, *state_cols, *delta_cols); the
    input's doc_id and words columns pass through unchanged."""
    names = ["doc_id", "words", *state_cols, *delta_cols]
    if k == 1:
        for rb in batches:
            if rb.num_rows:
                blk = _block(rb, state_cols)
                seeds = doc_seeds(base_seed, sweep0, blk.doc_ids)
                yield _emit(blk, [step(blk, seeds)], names)
        return
    blocks = [_block(rb, state_cols) for rb in batches if rb.num_rows]
    per_sweep: list[list] = [[] for _ in blocks]
    for sweep in range(sweep0, sweep0 + k):
        for blk, deltas in zip(blocks, per_sweep):
            deltas.append(step(blk, doc_seeds(base_seed, sweep, blk.doc_ids)))
    for blk, deltas in zip(blocks, per_sweep):
        yield _emit(blk, deltas, names)
