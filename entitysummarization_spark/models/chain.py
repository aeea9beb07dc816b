"""One chain engine for the AD-LDA samplers (M1–M7).

DistributedGibbs (M1/M2/M3/M5, models/gibbs.py), DistributedEntLda2 (M4,
models/entlda2.py), DistributedOntoPart (M6, models/ontopart.py) and
DistributedLodLda (M7, models/lodlda.py) are one driver loop over
partitioned token state. ``Chain`` owns every part of it that does not
depend on the model:

  - seeded init: one ``mapInArrow`` pass in which each doc draws its
    initial state with its RNG seeded by
    ``oracle.seed_for(base_seed, -1, doc)``;
  - the exact driver-side counts, by one count path: every pass that
    writes the state — init, sweep, and the count-only pass of a restore
    or recompute — also emits counted rows over the layout's
    ``(items, *state)`` columns, and ``_commit`` adds them through the
    model's ``_add_counts(cols, n)`` with ``n`` signed;
  - the sweep: broadcast the counts, one ``mapInArrow`` pass through
    ``run_sweeps``, then ``_commit`` — one Spark job of one stage (M3
    adds its neighbour join);
  - the run loop (fused blocks where the model allows them), ``close``
    and ``z_state``;
  - the per-doc posteriors (M1 θ, M4 ζ, M6 θ: ``_doc_posterior``), each
    one map over the state: ``doc_count`` counts a value inside the doc's
    own row, so nothing is exploded and grouped (M3's neighbour payload
    and M7's θ use it too);
  - save / restore and the checkpoint / broadcast lifecycle (below).

A model declares its ``Layout`` (key, items, pass-through and state
columns) and supplies hooks: its per-doc init draw and its batch-sweep
step (both read the chain's constants), the counts it broadcasts each
sweep and the constants it broadcasts once, and the ``np.add.at`` lines
that add counted rows to its driver store.

The runner. Arrow list columns already hold a flat values buffer plus
offsets, which is exactly the kernels' input layout, so a batch is
parsed into flat int64 arrays (``Block``). ``run_sweeps`` runs k sweeps
over a partition, each doc's RNG seeded by
``oracle.seed_for(base_seed, sweep, doc)``, so the random numbers never
depend on partitioning or fusion. A model's step owns partition-local
working copies of the global counts (the AD-LDA approximation: stale
across partitions, exact within one). M1 and M6 run their compiled C
kernel where it loads; otherwise, like M4 and M7 always, they run their
oracle's per-doc kernel over the flat slices (``per_doc``). The two are
bit-identical, so a cluster mixing both still produces one chain. After the swept
state rows of each batch the runner yields that batch's count rows:
each changed token is an old-assignment row at −1 and a new-assignment
row at +1, and every distinct signed row appears once with its count
over all the block's sweeps. AD-LDA refreshes the global counts by a sum
of integer deltas, and a sum needs no shuffle: the driver collects the
count rows and adds them. A fused block (k > 1,
``sweeps_per_job``) carries the local counts from sweep to sweep and
counts every sweep's deltas, so the driver reconstructs the exact global
counts at the block boundary; with one partition it is bit-identical to
k unfused sweeps.

The lifecycle. Each sweep rewrites the full token state with one map
pass; without intervention that (a) chains one pass per sweep into an
O(n)-deep plan, and (b) keeps every sweep's count broadcast referenced
for task re-serialization, an unbounded leak at the reference's 500 to
2000 production sweeps. ``_commit`` is the one end of every pass:

  - checkpoint each pass's output lazily; the collect of its count rows
    is the action that materializes it AND truncates its lineage (O(1)
    plan; the pass's broadcast becomes unreferenced). The state is the
    output's state rows, projected to the layout's columns;
  - checkpoint RDDs bypass the CacheManager, so DataFrame.unpersist()
    is a no-op for them. The persisted RDD handle is read off the
    checkpointed Dataset's own plan (a LogicalRDD whose ``rdd`` IS the
    persisted RDD) and released at the RDD level one pass later
    (releasing earlier would destroy live blocks: a checkpointed plan
    cannot recompute). Spark WARNs on every such release; the engine
    raises only that logger (``MapPartitionsRDD``) to ERROR;
  - a chain makes two kinds of broadcast. Its constants (M1's
    candidate CSR and λ·β, M6's class CSR, M7's movie contexts) ship
    once, on first use by init or a sweep, and ``close`` destroys them;
    M4 has none and ships none.
    A sweep's counts ship in a broadcast of its own, which the sweep
    destroys right after its ``_commit``;
  - ``restore`` ends in the count-only pass, which rebuilds the counts
    exactly from the saved state. RNG is seeded per (base_seed, sweep,
    doc), so run(4) and run(2) + save + restore + run(2) are one chain.

Fault tolerance: every pass cuts its lineage through the engine's one
checkpoint rule, ``session.checkpoint``. Without a checkpoint dir that is
a ``localCheckpoint``: blocks stay on the executors that computed them,
which is cheap, but one executor loss mid-chain makes the in-flight state
unrecoverable. Two mitigations compose: give the session a checkpoint dir
(``setCheckpointDir``), and every pass writes a reliable checkpoint to it
(every sweep durable, one distributed-FS write per sweep); or ``save``
every k sweeps and ``restore`` from the latest. The chain's inputs (the
corpus and its dictionaries) are cut by the same rule. The 105-sweep soak
in test_gibbs_kernels.py asserts flat plan size and flat persisted-block
count under this discipline.
"""

from __future__ import annotations

import json
import os
import warnings
from collections.abc import Callable, Iterator
from dataclasses import asdict
from functools import partial
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import checkpoint

# the logger of the per-sweep "locally checkpointed ... cannot be
# recomputed after unpersisting" WARN
LINEAGE_WARN_LOGGER = "org.apache.spark.rdd.MapPartitionsRDD"

# a pass output's count column: written only on count rows, null on
# state rows (a count row's key is null too, but keys come from input)
COUNT = "n"
LONGS = pa.list_(pa.int64())


class Layout(NamedTuple):
    """A sampler's state columns. ``key`` (long) partitions the state and
    seeds each doc's RNG; every other column is array<long>: ``items``
    (the tokens), ``carry`` (per-doc columns a sweep passes through) and
    ``state`` (token-aligned, rewritten by every sweep). The counts are
    kept over ``(items, *state)``."""

    key: str
    items: str
    state: tuple[str, ...]
    carry: tuple[str, ...] = ()

    @property
    def columns(self) -> tuple[str, ...]:
        return (self.key, self.items, *self.carry, *self.state)

    def schema(self) -> str:
        """A pass output's schema: the state's columns, then ``COUNT``."""
        return ", ".join(
            [f"{self.key} long"]
            + [f"{c} array<long>" for c in self.columns[1:]]
            + [f"{COUNT} long"]
        )


class Block(NamedTuple):
    rb: pa.RecordBatch        # the input batch (extra columns stay readable)
    keys: np.ndarray          # int64[n_docs] doc (or user) ids
    indptr: np.ndarray        # int64[n_docs+1] token offsets per doc
    ws: np.ndarray            # int64[n_tok] items (words, movies)
    state: list[np.ndarray]   # writable int64[n_tok] per state column
    carry: list[tuple[np.ndarray, np.ndarray]]  # (offsets, values) each


def doc_count(col, v) -> Column:
    """How many entries of the array ``col`` equal ``v``: a doc's count
    of one value, computed inside the doc's own row."""
    return F.size(F.filter(col, lambda z: z == v))


def partition_totals(df: DataFrame, col: Column, count: str,
                     total: str) -> DataFrame:
    """Lineage rows of ``df``: (partition_id int, ``count`` long, ``total``
    long), per non-empty partition its row count and the sum of ``col``,
    as ``groupBy(spark_partition_id())`` gives them but in one map-only
    pass."""

    def totals(batches):
        n, s = 0, None
        for rb in batches:
            n += rb.num_rows
            v = pc.sum(rb.column(0)).as_py()
            if v is not None:
                s = v if s is None else s + v
        if n:
            yield pa.RecordBatch.from_arrays(
                [pa.array([TaskContext.get().partitionId()], pa.int32()),
                 pa.array([n], pa.int64()), pa.array([s], pa.int64())],
                names=["partition_id", count, total],
            )

    return df.select(col.cast("long")).mapInArrow(
        totals, f"partition_id int, {count} long, {total} long")


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


def _parts(col) -> tuple[np.ndarray, np.ndarray]:
    off = col.offsets.to_numpy(zero_copy_only=False)
    return (
        (off - off[0]).astype(np.int64),
        np.ascontiguousarray(_flat(col), dtype=np.int64),
    )


def _block(rb: pa.RecordBatch, layout: Layout, state: bool = True) -> Block:
    indptr, ws = _parts(rb.column(layout.items))
    return Block(
        rb,
        rb.column(layout.key).to_numpy(zero_copy_only=False).astype(np.int64),
        indptr,
        ws,
        # np.array copies: the kernels mutate the state in place
        [np.array(_flat(rb.column(c)), dtype=np.int64)
         for c in (layout.state if state else ())],
        [_parts(rb.column(c)) for c in layout.carry],
    )


def _list(off: np.ndarray, vals: np.ndarray) -> pa.ListArray:
    return pa.ListArray.from_arrays(pa.array(off), pa.array(vals))


def _batch(blk: Block, layout: Layout, lists: list, names) -> pa.RecordBatch:
    """The input's key, items and carry columns, then ``lists``. The
    input's types are normalized (a source's lists may have non-null
    values), so these rows and the count rows share one schema."""
    rb = blk.rb
    return pa.RecordBatch.from_arrays(
        [rb.column(layout.key).cast(pa.int64())]
        + [rb.column(c).cast(LONGS) for c in (layout.items, *layout.carry)]
        + lists,
        names=list(names),
    )


def _emit(blk: Block, layout: Layout, counted: list):
    """A batch's state rows (null count), then its count rows: each
    distinct row of ``counted`` — (sign, flat (items, *state) columns)
    pairs — once, its count the signed number of times it occurs. A count
    row has a null key and carry and one-value lists as items and state;
    the sign is part of the row, so +1 and −1 rows never cancel."""
    names = [*layout.columns, COUNT]
    off32 = blk.indptr.astype(np.int32)
    yield _batch(
        blk, layout,
        [_list(off32, s) for s in blk.state]
        + [pa.nulls(len(blk.keys), pa.int64())],
        names,
    )
    rows = np.concatenate([
        np.column_stack([np.full(len(cols[0]), sign), *cols])
        for sign, cols in counted
    ])
    if not len(rows):
        return
    # np.unique(rows, axis=0, return_counts=True), ~4× faster: lexsort and
    # run starts instead of a sort of the rows as one void dtype
    rows = rows[np.lexsort(rows.T[::-1])]
    new = np.ones(len(rows), dtype=bool)
    new[1:] = (rows[1:] != rows[:-1]).any(axis=1)
    starts = np.flatnonzero(new)
    rows, n = rows[starts], np.diff(starts, append=len(rows))
    sign, items, *state = np.ascontiguousarray(rows.T)
    m = len(n)
    one = np.arange(m + 1, dtype=np.int32)
    yield pa.RecordBatch.from_arrays(
        [pa.nulls(m, pa.int64()), _list(one, items)]
        + [pa.nulls(m, LONGS)] * len(layout.carry)
        + [_list(one, s) for s in state]
        + [pa.array(sign * n)],
        names=names,
    )


def run_counts(
    batches: Iterator[pa.RecordBatch], layout: Layout
) -> Iterator[pa.RecordBatch]:
    """The count-only pass over one partition: each batch's state rows as
    they are, then its (items, *state) rows at +1."""
    for rb in batches:
        if rb.num_rows:
            blk = _block(rb, layout)
            yield from _emit(blk, layout, [(1, (blk.ws, *blk.state))])


def run_init(
    batches: Iterator[pa.RecordBatch],
    draw: Callable,
    base_seed: int,
    layout: Layout,
) -> Iterator[pa.RecordBatch]:
    """The seeded init pass over one partition: per doc,
    ``draw(rng, items, out)`` fills the doc's slices ``out`` of the state
    columns, with ``rng`` seeded by ``seed_for(base_seed, -1, doc)``.
    Each batch's (items, *state) rows follow at +1."""
    # one RandomState reseeded per doc: rng.seed(n) gives the same state
    # as RandomState(n) without its ~180 µs construction (67× a reseed)
    rng = np.random.RandomState(0)
    for rb in batches:
        if not rb.num_rows:
            continue
        blk = _block(rb, layout, state=False)
        seeds = doc_seeds(base_seed, -1, blk.keys)
        state = [np.empty(len(blk.ws), dtype=np.int64) for _ in layout.state]
        bounds = blk.indptr.tolist()
        for j in range(len(seeds)):
            lo, hi = bounds[j], bounds[j + 1]
            rng.seed(int(seeds[j]))
            draw(rng, blk.ws[lo:hi], [s[lo:hi] for s in state])
        yield from _emit(blk._replace(state=state), layout,
                         [(1, (blk.ws, *state))])


def run_sweeps(
    batches: Iterator[pa.RecordBatch],
    step: Callable[[Block, np.ndarray], tuple[np.ndarray, ...]],
    base_seed: int,
    sweep0: int,
    k: int,
    layout: Layout,
) -> Iterator[pa.RecordBatch]:
    """Sweeps ``sweep0 .. sweep0+k-1`` over one partition's batches.

    ``step(blk, seeds)`` sweeps a batch in place and returns its flat
    changed-token columns ``(items, *old state, *new state)``. Output
    batches have the layout's columns and ``COUNT`` (see ``_emit``); the
    input's key, items and carry columns pass through unchanged."""
    s = len(layout.state)

    def moves(ch):
        return [(-1, (ch[0], *ch[1:1 + s])), (1, (ch[0], *ch[1 + s:]))]

    if k == 1:
        for rb in batches:
            if rb.num_rows:
                blk = _block(rb, layout)
                seeds = doc_seeds(base_seed, sweep0, blk.keys)
                yield from _emit(blk, layout, moves(step(blk, seeds)))
        return
    blocks = [_block(rb, layout) for rb in batches if rb.num_rows]
    counted: list[list] = [[] for _ in blocks]
    for sweep in range(sweep0, sweep0 + k):
        for blk, rows in zip(blocks, counted):
            rows += moves(step(blk, doc_seeds(base_seed, sweep, blk.keys)))
    for blk, rows in zip(blocks, counted):
        yield from _emit(blk, layout, rows)


def per_doc(sweep_doc: Callable, n_cols: int):
    """A batch step from a per-doc kernel: ``sweep_doc(blk, j, lo, hi,
    rng)`` sweeps doc j (tokens lo:hi of the flat arrays) with ``rng``
    already seeded and returns its ``n_cols`` changed-token lists."""
    rng = np.random.RandomState(0)

    def step(blk: Block, seeds: np.ndarray):
        ch: tuple[list, ...] = tuple([] for _ in range(n_cols))
        bounds = blk.indptr.tolist()
        for j in range(len(seeds)):
            rng.seed(int(seeds[j]))
            doc_ch = sweep_doc(blk, j, bounds[j], bounds[j + 1], rng)
            for col, vals in zip(ch, doc_ch):
                col.extend(vals)
        return tuple(np.asarray(c, dtype=np.int64) for c in ch)

    return step


def quiet_lineage_warn(spark: SparkSession) -> None:
    """Raise only the per-sweep lineage WARN's logger to ERROR."""
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        LINEAGE_WARN_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )


def _value(bc):
    """A broadcast's value, read on an executor; None for no broadcast."""
    return None if bc is None else bc.value


class Chain:
    """The model-independent driver loop. A model passes its ``Layout``
    and implements:

      - ``_source()``: the init input, the layout's key, items and carry
        columns;
      - ``_init_draw()`` → draw: ``draw(const, rng, items, out)`` fills
        one doc's state slices ``out``, reading the chain's
        ``_sweep_const()`` payload ``const``;
      - ``_sweeper()`` → (payload, make): ``make(payload, const)``
        builds the batch step on an executor from this sweep's broadcast
        payload and the chain's ``_sweep_const()`` payload;
      - ``_reset_counts()``; ``_add_counts(cols, n)`` adds the signed
        ``n`` at each counted (items, *state) row.

    A checkpoint names the chain by ``model`` and also holds the
    attributes ``driver_state`` names.
    """

    model = ""
    driver_state: tuple[str, ...] = ()

    def __init__(self, spark: SparkSession, cfg, layout: Layout):
        self.spark = spark
        self.cfg = cfg
        self.layout = layout
        self.state: DataFrame | None = None
        self.sweeps_done = 0
        self.last_sweep_changes = 0  # tokens the last sweep (block) moved
        self._const_bc = None  # the chain-constant broadcast
        self._state_handle = None  # the persisted RDD behind the state
        quiet_lineage_warn(spark)

    # ---- optional model hooks ----
    def _can_fuse(self) -> bool:
        return hasattr(self.cfg, "sweeps_per_job")

    def _sweep_source(self, base: DataFrame) -> DataFrame:
        return base

    def _schedule(self, itr: int, before: bool) -> None:
        """Driver-side work around sweep ``itr`` (M4's burn-in)."""

    def _sweep_const(self):
        """The payload init and every sweep read unchanged."""
        return None

    def _z_record(self, arrs: list[np.ndarray]):
        return tuple(arrs)

    # ---- init / counts ----
    def _partitioned(self, df: DataFrame) -> DataFrame:
        """``df`` in the state's layout: hash-partitioned and sorted by
        the key."""
        key = self.layout.key
        return (df.repartition(self.cfg.n_partitions, key)
                .sortWithinPartitions(key))

    def init_state(self) -> None:
        layout, seed = self.layout, self.cfg.base_seed
        draw = self._init_draw()
        const_bc = self._const_broadcast()

        def init_fn(batches):
            yield from run_init(batches, partial(draw, _value(const_bc)),
                                seed, layout)

        self._reset_counts()
        self._commit(self._partitioned(self._source())
                     .mapInArrow(init_fn, layout.schema()))
        self.sweeps_done = 0

    def _refresh_global_counts(self) -> None:
        """Absolute recompute: one count-only pass over the current state,
        which it also re-checkpoints — the restore path and the arbiter of
        the sweeps' signed count rows."""
        layout = self.layout
        self._reset_counts()
        self._commit(self.state.mapInArrow(
            partial(run_counts, layout=layout), layout.schema()
        ))

    # ---- sweep / run ----
    def sweep(self, n_fused: int = 1) -> None:
        """One sweep, or a fused block of ``n_fused`` sweeps, as one job."""
        if n_fused > 1 and not self._can_fuse():
            raise ValueError(
                "fused sweeps need a fusable chain: M3 re-derives neighbor "
                "payloads between sweeps; M4 and M7 sweep one per job"
            )
        layout, seed, sweep0 = self.layout, self.cfg.base_seed, self.sweeps_done
        payload, make = self._sweeper()
        bc = self.spark.sparkContext.broadcast(payload)
        const_bc = self._const_broadcast()

        def sweep_fn(batches):
            yield from run_sweeps(batches, make(bc.value, _value(const_bc)),
                                  seed, sweep0, n_fused, layout)

        # partitioning by key is already established and mapInArrow
        # preserves it
        n = self._commit(
            self._sweep_source(self.state)
            .sortWithinPartitions(layout.key)
            .mapInArrow(sweep_fn, layout.schema())
        )
        # the commit's collect truncated the lineage: bc is unreferenced
        self._destroy_broadcast(bc)
        self.sweeps_done += n_fused
        # each changed token is one +1 row
        self.last_sweep_changes = int(n[n > 0].sum())

    def run(self, n_sweeps: int) -> None:
        if self.state is None:
            self.init_state()
        k = max(1, int(getattr(self.cfg, "sweeps_per_job", 1)))
        if k > 1 and not self._can_fuse():
            warnings.warn(
                "sweeps_per_job>1 does not apply to M3; sweeping one "
                "per job", stacklevel=2,
            )
            k = 1
        done = 0
        while done < n_sweeps:
            step, itr = min(k, n_sweeps - done), self.sweeps_done
            self._schedule(itr, before=True)
            self.sweep(n_fused=step)
            self._schedule(itr, before=False)
            done += step

    def save(self, path: str) -> str:
        """Write the state, one lineage row per partition, the
        ``driver_state`` and last ``meta.json``, renamed into place as
        the commit marker, under ``path/sweep=<n>``; return that dir."""
        if self.state is None:
            raise ValueError(
                f"the {self.model} chain has no state yet: call init_state "
                "or run before save"
            )
        d = os.path.join(path, f"sweep={self.sweeps_done:05d}")
        self.state.write.mode("overwrite").parquet(os.path.join(d, "state"))
        partition_totals(
            self.state, F.size(self.layout.items), "n_docs", "n_tokens"
        ).write.mode("overwrite").parquet(os.path.join(d, "lineage"))
        if self.driver_state:
            np.savez(os.path.join(d, "driver.npz"),
                     **{a: getattr(self, a) for a in self.driver_state})
        tmp = os.path.join(d, "_meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump({"model": self.model, "sweeps_done": self.sweeps_done,
                       "config": asdict(self.cfg)}, f)
        os.replace(tmp, os.path.join(d, "meta.json"))
        return d

    def restore(self, ckpt_dir: str) -> None:
        """Continue the chain ``save`` wrote to ``ckpt_dir``; refuse
        another model's or one saved under another config."""
        with open(os.path.join(ckpt_dir, "meta.json")) as f:
            meta = json.load(f)
        # a checkpoint older than the model field is M1's, flagged if M3
        saved = meta.get("model") or ("M3" if meta.get("m3") else "M1")
        if saved != self.model:
            raise ValueError(
                f"{ckpt_dir} holds an {saved} chain: a non-{self.model} "
                f"checkpoint cannot resume an {self.model} chain"
            )
        # both M1 kernels are bit-identical: a resume may switch kernel
        cfg = asdict(self.cfg)
        changed = [f"{k}={v!r}" for k, v in meta["config"].items()
                   if k in cfg and k != "kernel" and v != cfg[k]]
        if changed:
            raise ValueError(
                f"{ckpt_dir} was sampled under {', '.join(changed)}: "
                "resume it under the config it was saved with"
            )
        if self.driver_state:
            with np.load(os.path.join(ckpt_dir, "driver.npz")) as z:
                for a in self.driver_state:
                    setattr(self, a, z[a])
        self.state = self._partitioned(
            self.spark.read.parquet(os.path.join(ckpt_dir, "state")))
        self._refresh_global_counts()
        self.sweeps_done = meta["sweeps_done"]

    def close(self) -> None:
        """Destroy the chain-constant broadcast, if any."""
        if self._const_bc is not None:
            self._destroy_broadcast(self._const_bc)
            self._const_bc = None

    def z_state(self) -> dict:
        """key → the record's state arrays (oracle-comparable, tests)."""
        key, cols = self.layout.key, self.layout.state
        pdf = self.state.select(key, *cols).toPandas()
        return {
            int(k): self._z_record([np.asarray(v, dtype=np.int64) for v in vs])
            for k, *vs in zip(pdf[key], *(pdf[c] for c in cols))
        }

    def _doc_posterior(self, col: str, name: str, prior: float, k: int,
                       out: str, pairs: DataFrame | None = None) -> DataFrame:
        """(key, ``name``, ``out``) with ``out`` = round((n + prior) /
        (Nd + k·prior), 4), where n is the doc's count of the value in its
        state column ``col`` and Nd its number of items. Without
        ``pairs``: each distinct value a doc holds. With ``pairs`` (key,
        ``name``): each distinct requested pair of a doc in the state, zero
        counts included."""
        key, items = self.layout.key, self.layout.items
        if pairs is None:
            rows = self.state.select(
                key, items, col, F.explode(F.array_distinct(col)).alias(name))
        else:
            rows = pairs.select(key, name).distinct().join(
                self.state.select(key, items, col), key)
        return rows.select(
            key, name,
            F.round(
                (doc_count(col, F.col(name)) + F.lit(prior))
                / (F.size(items) + F.lit(k * prior)),
                4,
            ).alias(out),
        )

    # ---- checkpoint / broadcast lifecycle ----
    @staticmethod
    def _checkpointed_rdd_handle(df: DataFrame):
        """The persisted RDD behind a just-checkpointed Dataset: its
        analyzed plan is a LogicalRDD wrapping exactly the RDD that
        ``checkpoint``/``localCheckpoint`` persisted. Reading it off the
        Dataset itself (rather than diffing getPersistentRDDs before/
        after) cannot capture RDDs persisted concurrently by other jobs
        on the same session."""
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return plan.rdd()

    def _commit(self, out: DataFrame) -> np.ndarray:
        """The end of every pass that writes the state. ``out`` is
        checkpointed lazily and its state rows become the state; the
        collect of its count rows, added through ``_add_counts``, is the
        one action: it materializes the new state and truncates its
        lineage (one job per pass). Only then is the old state released,
        since the pass read its blocks. Returns the signed counts.

        localCheckpoint persists its blocks during whichever job first
        computes the RDD and truncates lineage at that job's end; a
        reliable checkpoint stays eager (``session.checkpoint``)."""
        out = checkpoint(out, eager=False)
        # the raw checkpointed output's handle is the one released after
        # the next pass: the filtered state's plan is not a LogicalRDD
        pending = self._state_handle
        self._state_handle = self._checkpointed_rdd_handle(out)
        self.state = (out.where(F.col(COUNT).isNull())
                      .select(*self.layout.columns))
        counted = (self.layout.items, *self.layout.state)
        pdf = (out.where(F.col(COUNT).isNotNull())
               .select(*[F.col(c)[0].alias(c) for c in counted], COUNT)
               .toPandas())
        *cols, n = [pdf[c].to_numpy(np.int64) for c in (*counted, COUNT)]
        self._add_counts(cols, n)
        if pending is not None:
            try:
                pending.unpersist(False)
            except Exception:  # noqa: BLE001 — already released is fine
                pass
        return n

    def _const_broadcast(self):
        """The ``_sweep_const()`` payload, broadcast on first use by init
        or a sweep; ``close`` destroys it. None, and no broadcast, when
        the chain has no constants (M4)."""
        if self._const_bc is None:
            const = self._sweep_const()
            if const is not None:
                self._const_bc = self.spark.sparkContext.broadcast(const)
        return self._const_bc

    @staticmethod
    def _destroy_broadcast(bc) -> None:
        try:
            bc.destroy()
        except Exception:  # noqa: BLE001 — already cleaned is fine
            pass
