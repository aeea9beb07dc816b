"""Distributed constrained collapsed Gibbs — AD-LDA over DataFrame state.

The reference's sampler is one sequential loop over all N tokens per sweep
(src/cs/uga/edu/esum/EntSumModel.java:133-192) with dense in-place count
matrices. Distributed, that becomes the AD-LDA scheme (Newman et al. 2009,
"Distributed Algorithms for Topic Models", JMLR — public):

  - token state lives PARTITIONED: one row per doc
    ``(doc_id, words: array<long>, zs: array<long>)``; doc-local counts
    (Npd, Nd) are exact because a doc never splits across partitions;
  - global counts (Nwp P×W, Np) are broadcast each sweep and updated
    LOCALLY within a partition while it sweeps (stale across partitions —
    the standard AD-LDA approximation), then refreshed exactly on the
    driver by summing the partitions' integer deltas, and re-broadcast;
  - RNG is seeded per (base_seed, sweep, doc) — independent of
    partitioning — so a 1-partition run is bit-identical to the NumPy
    oracle (models/oracle.py) and any-partition runs are reproducible.

Scale: only P×W counts ever reach the driver (bounded by the F10
vocabulary prune); token state is never collected. The chain runs on the
shared engine (models/chain.py), which owns init, the count refresh, the
sweep job, the run loop, save/restore and the checkpoint/broadcast
lifecycle: per sweep one mapInArrow pass that also emits its signed
count rows, one Spark job of one stage (no shuffle — partitioning by
doc_id is established once; M3 adds its neighbour join). The posteriors
build no dense frame on the driver: θ counts each pred inside its doc's
own state row (``Chain._doc_posterior``), M3's neighbour payload the
same way, and φ is the driver's P×W array, broadcast once and expanded
to rows on the executors. This module supplies the M1 layout, init draw,
kernels and count store. A checkpoint names the chain M1, or M3 with
``doc_sr``.

Kernels: GibbsConfig.kernel is "native" (default) or "reference". Native
runs the runtime-compiled C kernel (models/native_kernel.py) once per
Arrow batch. "reference", and "native" on an executor without a C
compiler, run _sweep_doc_reference (models/oracle.py) per doc over the
same flat slices: the per-token NumPy kernel GibbsOracle runs, as every
sampler's interpreted kernel is its oracle's. The two are bit-identical
by construction (same seeded-RNG contract, same IEEE op order), so a
cluster mixing compiled and compiler-less executors still produces one
chain. tests/test_gibbs_kernels.py holds native to the reference on
z-chain AND count-matrix equality; test_gibbs_fused.py does the same at
the runner, unfused and fused.

Broadcast discipline: the chain constants (CSR candidates, λ·β, Σλβ;
λ·β is a dense P×W float64) ship once per chain (``_sweep_const``), and
init draws from the same CSR; the per-sweep broadcast carries only the
refreshed (Nwp, Np) counts.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import native_kernel
from .chain import Chain, Layout, doc_count, per_doc
from .oracle import _sweep_doc_reference, alpha_from_neighbors

# one row per doc; the counts are kept over (word, pred)
LAYOUT = Layout("doc_id", "words", ("zs",))


def _m3_alphas(blk, P: int, alpha: float, eps: float):
    """Per-doc SR-smoothed α matrix and sums for one batch (M3), rebuilt
    from its joined ``nbrs`` column (None where the doc has no
    neighbors) in the oracle's input order (see _with_nbr_payload). α is
    frozen within a sweep."""
    n = len(blk.keys)
    av_mat = np.empty((n, P), dtype=np.float64)
    a_sums = np.empty(n, dtype=np.float64)
    for j, nbrs in enumerate(blk.rb.column("nbrs").to_pylist()):
        av = alpha_from_neighbors([
            (int(e["nbr"]), int(e["nd"]),
             np.asarray([x["p"] for x in e["pn"] or []], dtype=np.int64),
             np.asarray([x["n"] for x in e["pn"] or []], dtype=np.int64))
            for e in nbrs or []
        ], P, alpha, eps)
        av_mat[j] = av
        # float(row.sum()) — the same reduction for every kernel
        a_sums[j] = float(av.sum())
    return av_mat, a_sums


def _m1_step(lib, const, nwp, np_, alpha, eps, use_m3):
    """The M1 batch-sweep callable for ``chain.run_sweeps``: the C kernel
    where ``lib`` loaded, else the oracle's per-token kernel
    ``_sweep_doc_reference`` per doc over the batch's flat slices. Both
    mutate ONE set of partition-local working copies of (nwp, np_) for
    the pass (AD-LDA)."""
    P, W = nwp.shape
    nwp, np_ = nwp.copy(), np_.copy()
    csr_indptr, csr_data = const["csr_indptr"], const["csr_data"]
    lam_beta, slb = const["lam_beta"], np.ascontiguousarray(const["slb"])

    def alphas(blk):
        return _m3_alphas(blk, P, alpha, eps) if use_m3 else (None, None)

    if lib is None:
        cand = {
            w: csr_data[csr_indptr[w]:csr_indptr[w + 1]] for w in range(W)
        }
        # λ·β ships pre-multiplied: lam_beta[c, w] * 1.0 is the same
        # double as the kernel's lam[c, w] * β
        lam_beta = lam_beta.reshape(P, W)
        m3 = [None, None]  # this batch's (α matrix, α sums) under M3

        def sweep_doc(blk, j, lo, hi, rng):
            if use_m3:
                av, a_sum = m3[0][j], float(m3[1][j])
            else:
                av, a_sum = None, P * alpha
            z = blk.state[0][lo:hi]  # a view: the kernel writes through
            nd = np.bincount(z, minlength=P).astype(np.int64)
            return _sweep_doc_reference(
                blk.ws[lo:hi], z, nd, nwp, np_, cand, lam_beta, slb, 1.0,
                alpha, av, a_sum, rng,
            )

        doc_step = per_doc(sweep_doc, 3)

        def per_doc_step(blk, seeds):
            m3[:] = alphas(blk)
            return doc_step(blk, seeds)

        return per_doc_step

    nwp_flat = nwp.ravel()  # a view of the working copy
    nd = np.zeros(P, dtype=np.int64)
    cdf = np.empty(max(int(const["max_cand"]), 1), dtype=np.float64)

    def native_step(blk, seeds):
        av_mat, a_sums = alphas(blk)
        return native_kernel.sweep_batch_native(
            lib, blk.indptr, blk.ws, blk.state[0], seeds, P, W,
            nwp_flat, np_, csr_indptr, csr_data, lam_beta, slb, alpha,
            av_mat, a_sums, nd, cdf,
        )

    return native_step


def _m1_init(const, rng, ws, out):
    """Seeded init draw of one doc: a uniform candidate per token, read
    off the chain constants' candidate CSR."""
    ip, data = const["csr_indptr"], const["csr_data"]
    zs = out[0]
    for i, w in enumerate(ws.tolist()):
        zs[i] = data[ip[w] + rng.randint(ip[w + 1] - ip[w])]


@dataclass
class GibbsConfig:
    n_preds: int
    n_words: int
    alpha: float | None = None
    beta: float = 0.01
    base_seed: int = 7
    n_partitions: int = 8
    epsilon: float = 0.9     # M3 neighbor-smoothing mix (only with doc_sr)
    # λ default for (pred, word) pairs absent from lam_df. 1.0 = M1's
    # "unobserved pairs weigh 1" (EntityProc.java:468); 0.0 = the M5
    # SontoLDA convention, where tfIdfMat is allocated zero-filled and
    # only category-word TF-IDF entries are set
    # (sontoldamodel/SontoLDA.java:524-531, used at :138-139).
    lam_default: float = 1.0
    # "native" = the runtime-compiled C kernel (default); "reference" =
    # the per-token NumPy kernel GibbsOracle runs, which is also what
    # "native" runs on an executor without a C compiler. Both produce
    # identical z-chains (test_gibbs_kernels.py).
    kernel: str = "native"
    # >1 fuses that many sweeps into ONE Spark job (mapInArrow pass):
    # each partition carries its locally-updated counts across the
    # fused sweeps instead of receiving the cross-partition refresh —
    # the AD-LDA staleness extended across the block. Amortizes the
    # per-job fixed cost by the fusion factor: at P=264, W=4000 on ~400k
    # tokens (local[4], 4 vCPU) an unfused sweep job takes 0.37 s and a
    # fused ×4 block 0.41 s, so that cost is still most of a sweep.
    # Exact anchors: bit-identical to unfused at
    # n_partitions=1; global counts exactly reconstructed from the
    # block's deltas at every block boundary (test_gibbs_fused.py).
    # DEFAULT 1: the bit-parity-to-reference contract holds only
    # unfused for n_partitions>1. Applies to either kernel; M3 sweeps
    # one per job regardless.
    sweeps_per_job: int = 1

    def __post_init__(self) -> None:
        if self.kernel not in ("native", "reference"):
            raise ValueError(
                f"GibbsConfig.kernel must be 'native' or 'reference', "
                f"got {self.kernel!r}"
            )

    @property
    def alpha_eff(self) -> float:
        # reference default α = 50/P (ModelParameters.java:41 — 50/264)
        return self.alpha if self.alpha is not None else 50.0 / self.n_preds


def tokens_from_corpus(corpus: DataFrame) -> DataFrame:
    """corpus (doc_id, word_id, freq) → per-doc token array, deterministic
    layout (ascending word_id, repeated freq times) matching
    oracle.doc_token_words."""
    return corpus.groupBy("doc_id").agg(
        F.flatten(
            F.transform(
                F.sort_array(F.collect_list(F.struct("word_id", "freq"))),
                lambda s: F.array_repeat(s["word_id"].cast("long"), s["freq"]),
            )
        ).alias("words")
    )


def _collect_cand(obj_pred: DataFrame) -> dict[int, np.ndarray]:
    pdf = obj_pred.toPandas()
    return {
        int(w): np.asarray(sorted(ps), dtype=np.int64)
        for w, ps in zip(pdf["word_id"], pdf["pred_ids"])
    }


def _collect_lam(
    lam_df: DataFrame | None, P: int, W: int, default: float = 1.0
) -> np.ndarray:
    lam = np.full((P, W), default, dtype=np.float64)
    if lam_df is not None:
        pdf = lam_df.toPandas()
        lam[pdf["pred_id"].to_numpy(), pdf["word_id"].to_numpy()] = pdf[
            "weight"
        ].to_numpy()
    return lam


class DistributedGibbs(Chain):
    """The M1 chain on the shared engine (models/chain.py). Usage:

        g = DistributedGibbs(spark, corpus_df, obj_pred_df, lam_df, cfg)
        g.init_state()
        g.run(n_sweeps)
        theta, phi = g.theta(), g.phi()
    """

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        obj_pred: DataFrame,
        lam_df: DataFrame | None,
        cfg: GibbsConfig,
        doc_sr: DataFrame | None = None,
    ):
        """``doc_sr`` (doc_a, doc_b) enables the M3 option: per-doc α
        smoothed over the SR-graph neighborhood (EntLDA.computeAlpha,
        src/cs/uga/edu/enttopicmodel/EntLDA.java:319-338) — pass the edge
        list BOTH directions (symmetrize upstream). α refreshes from the
        synchronized counts between sweeps; within a sweep it is frozen,
        which is what keeps multi-partition runs well-defined."""
        super().__init__(spark, cfg, LAYOUT)
        self.doc_sr = doc_sr
        self.model = "M1" if doc_sr is None else "M3"
        self.cand = _collect_cand(obj_pred)
        self.lam = _collect_lam(lam_df, cfg.n_preds, cfg.n_words, cfg.lam_default)
        self.sum_lam_beta = self.lam.sum(axis=1) * cfg.beta
        self.kernel = cfg.kernel
        if self.kernel == "native" and not native_kernel.native_available():
            warnings.warn(
                "kernel='native': no C compiler available — sweeps run the "
                "reference kernel (bit-identical, slower)", stacklevel=2,
            )
        self.corpus = corpus
        self.nwp: np.ndarray | None = None
        self.np_: np.ndarray | None = None

    # ---- engine hooks ----
    def _source(self) -> DataFrame:
        return tokens_from_corpus(self.corpus)

    def _init_draw(self):
        return _m1_init

    def _reset_counts(self) -> None:
        self.nwp = np.zeros((self.cfg.n_preds, self.cfg.n_words), dtype=np.int64)

    def _add_counts(self, cols, n) -> None:
        w, p = cols
        np.add.at(self.nwp, (p, w), n)
        self.np_ = self.nwp.sum(axis=1)

    def _can_fuse(self) -> bool:
        return self.doc_sr is None

    def _sweeper(self):
        cfg, kernel = self.cfg, self.kernel
        use_m3 = self.doc_sr is not None

        def make(counts, const):
            lib = native_kernel.load_native() if kernel == "native" else None
            return _m1_step(lib, const, *counts,
                            cfg.alpha_eff, cfg.epsilon, use_m3)

        return (self.nwp, self.np_), make

    def _sweep_const(self):
        """CSR candidates, λ·β and Σλβ, shipped once per chain."""
        csr_indptr, csr_data = native_kernel.cand_to_csr(
            self.cand, self.cfg.n_words
        )
        return {
            "slb": self.sum_lam_beta,
            "csr_indptr": csr_indptr, "csr_data": csr_data,
            "lam_beta": np.ascontiguousarray(
                (self.lam * self.cfg.beta).ravel()
            ),
            "max_cand": int(np.diff(csr_indptr).max()) if self.cand else 1,
        }

    def _sweep_source(self, base: DataFrame) -> DataFrame:
        # the payload join re-keys state to spark.sql.shuffle.partitions —
        # restore the sampler's partitioning so the AD-LDA partition count
        # (and with n_partitions=1, oracle bit-parity) is preserved
        if self.doc_sr is None:
            return base
        return self._with_nbr_payload(base).repartition(
            self.cfg.n_partitions, "doc_id")

    def _z_record(self, arrs):
        return arrs[0]

    # ---- M3 neighbor payload (per-doc α smoothing inputs) ----
    def _with_nbr_payload(self, state: DataFrame) -> DataFrame:
        """Attach each doc's sorted SR-neighbor count summaries
        (nbr, nd, [(p, n), ...]) so the sweep UDF can rebuild the exact
        neighbor θ and call alpha_from_neighbors — identical input order
        to the oracle, hence bit-identical α."""
        payload = state.select(
            "doc_id",
            F.size("words").alias("nd"),
            F.transform(
                F.array_sort(F.array_distinct("zs")),
                lambda p: F.struct(
                    p.alias("p"), doc_count("zs", p).cast("long").alias("n")
                ),
            ).alias("pn"),
        )
        nbrs = (
            self.doc_sr.select(
                F.col("doc_a").cast("long").alias("doc_a"),
                F.col("doc_b").cast("long").alias("doc_id"),
            )
            .join(payload, "doc_id")
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(
                F.sort_array(
                    F.collect_list(
                        F.struct(F.col("doc_id").alias("nbr"), "nd", "pn")
                    )
                ).alias("nbrs")
            )
        )
        return state.join(nbrs, "doc_id", "left")

    # ---- posteriors ----
    def theta(self, for_pairs: DataFrame | None = None) -> DataFrame:
        """θ(doc_id, pred_id) = round((Npd+α)/(Nd+Pα), 4).

        ``for_pairs`` (doc_id, pred_id) limits output to needed cells (at
        scale D×P is too wide to materialize for every doc)."""
        cfg = self.cfg
        return self._doc_posterior("zs", "pred_id", cfg.alpha_eff,
                                   cfg.n_preds, "theta", for_pairs)

    def phi(self) -> DataFrame:
        """φ(pred_id, word_id) — dense P×W. The P×W array is computed on
        the driver (the counts already live there), broadcast once, and
        expanded to rows on the executors, one pred's W rows at a time."""
        phi = np.round(
            (self.nwp + self.lam * self.cfg.beta)
            / (self.np_[:, None] + self.sum_lam_beta[:, None]),
            4,
        )
        bc = self.spark.sparkContext.broadcast(phi)
        words = pa.array(np.arange(phi.shape[1], dtype=np.int64))

        def rows(batches):
            for rb in batches:
                for p in rb.column(0).to_numpy().tolist():
                    yield pa.RecordBatch.from_arrays(
                        [pa.array(np.full(len(words), p, dtype=np.int64)),
                         words, pa.array(bc.value[p])],
                        names=["pred_id", "word_id", "phi"],
                    )

        return self.spark.range(self.cfg.n_preds).mapInArrow(
            rows, "pred_id long, word_id long, phi double")
