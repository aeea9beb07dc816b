"""Iterative-sampler state lifecycle: checkpoint + explicit release.

Shared by every distributed sampler: DistributedGibbs (M1/M2/M3/M5),
DistributedEntLda2 (M4), DistributedOntoPart (M6) and DistributedLodLda
(M7). Each rewrites its full token state once per sweep with one map
pass; without intervention that (a) chains one map pass per sweep into an
O(n)-deep plan, and (b) keeps every sweep's count broadcast referenced
for task re-serialization — an unbounded leak at the reference's 500 to
2000 production sweeps. The discipline here:

  - checkpoint each new state eagerly: materializes it AND truncates
    lineage (O(1) plan; the sweep's broadcast becomes unreferenced);
  - checkpoint RDDs bypass the CacheManager, so DataFrame.unpersist()
    is a NO-OP for them — the persisted RDD handle is read off the
    checkpointed Dataset's own plan (a LogicalRDD whose ``rdd`` IS the
    persisted RDD) and released at the RDD level one sweep later
    (releasing earlier would destroy live blocks: a checkpointed plan
    cannot recompute);
  - the previous sweep's broadcast is destroy()ed once the next state
    is materialized (deferred one sweep out of caution).

Fault-tolerance tradeoff (library surface): ``localCheckpoint`` (the
default) stores blocks on the executors that computed them — cheap, but
on a real cluster a single executor loss mid-chain makes the in-flight
state unrecoverable (the WARN Spark logs about truncated lineage is
exactly this). Two mitigations, composable:

  - set ``reliable=True`` on ``_local_checkpoint`` (surfaced as
    ``GibbsConfig.reliable_checkpoint``) to use ``Dataset.checkpoint``
    against ``spark.sparkContext.setCheckpointDir(...)`` — every sweep
    durable, at the cost of a distributed-FS write per sweep;
  - keep the default and rely on the every-k-sweeps Parquet checkpoints
    (plans/checkpoint.py) as the durable resume points — the
    north-rule resume path, and the right cost point at 1000 sweeps.

The 105-sweep soak in test_gibbs_kernels.py asserts flat plan size and
flat persisted-block count under this discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class CheckpointedStateLifecycle:
    """Mixin; requires ``self.spark``. Call _init_state_lifecycle() in
    __init__. ``_commit_sweep`` additionally requires ``self.cfg``
    (with ``reliable_checkpoint``), ``self.sweeps_done`` and an
    ``_apply_count_deltas`` that aggregates the new state's delta
    columns into the driver's counts."""

    def _init_state_lifecycle(self) -> None:
        self._state_handles: list = []
        self._pending_release: list = []
        self._bc_prev = None

    @staticmethod
    def _checkpointed_rdd_handle(df: DataFrame):
        """The persisted RDD behind a just-checkpointed Dataset: its
        analyzed plan is a LogicalRDD wrapping exactly the RDD that
        ``checkpoint``/``localCheckpoint`` persisted. Reading it off the
        Dataset itself (rather than diffing getPersistentRDDs before/
        after, as earlier rounds did) cannot capture RDDs persisted
        concurrently by other jobs on the same session."""
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return None
        return plan.rdd()

    def _local_checkpoint(
        self, df: DataFrame, reliable: bool = False, eager: bool = True
    ) -> DataFrame:
        """``eager=False`` (local path only) defers materialization to the
        caller's next action — the samplers use this to fuse checkpoint
        materialization into the delta-count aggregation, one job per
        sweep instead of two. localCheckpoint persists its blocks during
        whichever job first computes the RDD and truncates lineage at
        that job's end, so the steady state is identical; the caller MUST
        run an action over the returned state before releasing the
        previous one. Reliable checkpoints stay eager: a non-eager
        ``Dataset.checkpoint`` recomputes the RDD a second time to write
        it unless it is already persisted."""
        if reliable:
            out = df.checkpoint(eager=True)  # needs setCheckpointDir
        else:
            out = df.localCheckpoint(eager=eager)
        handle = self._checkpointed_rdd_handle(out)
        self._pending_release = self._state_handles
        self._state_handles = [handle] if handle is not None else []
        return out

    def _commit_sweep(self, old: DataFrame, swept: DataFrame, bc,
                      n_sweeps: int = 1) -> None:
        """The shared end of a sweep: checkpoint ``swept`` lazily, let the
        delta aggregation be the action that materializes it (one job per
        sweep instead of checkpoint-then-aggregate), then release the old
        state — only now, since the sweep read its blocks — and retire
        the previous sweep's broadcast (``bc`` is destroyed one sweep
        later, out of caution)."""
        self.state = self._local_checkpoint(
            swept, reliable=self.cfg.reliable_checkpoint, eager=False,
        )
        self.sweeps_done += n_sweeps
        self._apply_count_deltas()
        self._finalize_lazy_checkpoint()
        self._release_old_state(old)
        self._retire_broadcast(bc)

    def _finalize_lazy_checkpoint(self) -> None:
        """Force lineage truncation of the current (lazily-checkpointed)
        state. Needed because AQE materializes shuffle map stages via
        ``submitMapStage``, which — unlike ``runJob`` — never calls
        ``rdd.doCheckpoint()``; when the caller's materializing action
        short-circuits after the map stage (e.g. an empty delta
        aggregation), the state's blocks are cached but its lineage still
        chains every previous sweep (and keeps their broadcasts
        referenced — INTERNAL_ERROR_BROADCAST two sweeps later).
        ``RDD.doCheckpoint`` is idempotent and, with all partitions
        already cached by the map stage, truncates without launching a
        job (LocalRDDCheckpointData computes only MISSING partitions).
        private[spark] in Scala compiles to a public method, so py4j can
        call it."""
        for h in self._state_handles:
            h.doCheckpoint()

    def _release_old_state(self, old: DataFrame) -> None:
        old.unpersist()  # covers a plain-persisted state (restore path)
        for h in self._pending_release:
            try:
                h.unpersist(False)
            except Exception:  # noqa: BLE001 — already released is fine
                pass
        self._pending_release = []

    def _retire_broadcast(self, bc) -> None:
        """Destroy the PREVIOUS sweep's broadcast and remember ``bc`` as
        the one to destroy next sweep."""
        if self._bc_prev is not None:
            try:
                self._bc_prev.destroy()
            except Exception:  # noqa: BLE001 — already cleaned is fine
                pass
        self._bc_prev = bc

    def _destroy_broadcast_now(self, bc) -> None:
        try:
            bc.destroy()
        except Exception:  # noqa: BLE001
            pass
