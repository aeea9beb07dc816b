"""M6 ontoPartModel — chained topic→class→word collapsed Gibbs (SURVEY §2.8).

Re-expresses the INTENDED semantics of
/root/reference/TextProcessing/src/cs/uga/edu/ontoPart/ontoPartModel.java:
each token (a (predicate, object) "word" w of entity-document d) carries a
latent (topic t, ontology-class c) pair, with c restricted to the classes
that may emit w (classToWordMap, :98). The chained conditional the code
aims at (:195-228) is

    p(t, c | d, w) ∝ (Ntd[d][t] + α)                 # topic given doc
                   · (Nct[t][c] + β) / (Nt[t] + C·β)  # class given topic
                   · (Nwc[c][w] + ζ) / (Nc[c] + W·ζ)  # word given class

(the doc denominator (Nd[d]+T·α) is constant across the grid and drops).
The reference method is unrunnable as written — documented bugs we do NOT
reproduce (same policy as A5/W5, SURVEY §2.4):

  - :180 passes the WORD as `cid` and literal 7 as `wid`, so every token
    looks up classToWordMap.get(7);
  - :208-209 loops classes `c` but tests/indexes `ctr` (the topic);
  - :211 divides by Nt[did] (doc-indexed topic total), :215 by Nc[ctr]
    (topic-indexed class total);
  - :226-227 writes the sampled value into the PREDICATE array p[] and
    updates the predicate count matrices, so topic/class state never
    advances;
  - initializeMatrices/initializeGibbsSampling (:606-616,:550-568) never
    allocate or init Ntd/Nct/Nwc/t[].

We implement the intended grid sampler with both latents drawn JOINTLY
(one categorical over T × classes(w) — exact collapsed conditional; the
broken code's separate passes would be a pseudo-Gibbs approximation).
Posteriors follow computeTheta1/computePhi1/computeZeta (:383-406) with
the intended index/denominator fixes:
θ=(Ntd+α)/(Nd+T·α), φ=(Nct+β)/(Nt+C·β), ζ=(Nwc+ζ0)/(Nc+W·ζ0), all
4-decimal rounded like every reference posterior.

Distribution is the AD-LDA scheme of every sampler here, on the shared
engine (models/chain.py): token state partitioned by doc_id (doc-local
Ntd exact), global Nct/Nwc broadcast per sweep and updated
partition-locally (stale across partitions), then refreshed exactly from
the signed count rows the sweep pass emits (one job, no shuffle). RNG is seeded per (base_seed, sweep, doc)
with a fixed draw order (init: one randint for t then one for c per
token; sweep: one rand per token), so a 1-partition run is bit-identical
to the NumPy oracle below.

Scale: only T×C + C×W counts cross the cluster (T, C are ontology-sized;
W is F10-pruned); token state never leaves its partition.
"""

from __future__ import annotations

import warnings
from dataclasses import dataclass
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import native_kernel
from .chain import Chain, Layout, per_doc
from .gibbs import tokens_from_corpus
from .oracle import rng_for

# one row per doc; the counts are kept over (word, topic, class)
LAYOUT = Layout("doc_id", "words", ("ts", "cs"))


@dataclass
class OntoPartConfig:
    n_topics: int
    n_classes: int
    n_words: int
    alpha: float | None = None
    beta: float = 0.01        # class-given-topic smoothing (BETA, :61)
    zeta: float = 0.01        # word-given-class smoothing (ZETA, :62)
    base_seed: int = 7
    n_partitions: int = 8
    # Sweeps run the runtime-compiled C grid kernel, or its bit-identical
    # interpreted twin (_sweep_doc) on an executor without a C
    # compiler; OntoPartOracle is the parity arbiter.
    # >1 fuses that many sweeps into ONE Spark job (same scheme, anchors
    # and default-1 rationale as GibbsConfig.sweeps_per_job — see
    # gibbs.py; gates in test_ontopart_fused.py).
    sweeps_per_job: int = 1

    @property
    def alpha_eff(self) -> float:
        # same 50/K convention as the other models (ModelParameters.java:41)
        return self.alpha if self.alpha is not None else 50.0 / self.n_topics


def _collect_cls_cand(class_word: DataFrame) -> dict[int, np.ndarray]:
    """word_id → sorted allowed class ids (classToWordMap inverted)."""
    pdf = (
        class_word.groupBy("word_id")
        .agg(F.sort_array(F.collect_set("class_id")).alias("cls"))
        .toPandas()
    )
    return {
        int(w): np.asarray(cs, dtype=np.int64)
        for w, cs in zip(pdf["word_id"], pdf["cls"])
    }


def _sample_token(
    rng_u: float,
    ntd: np.ndarray,          # T (doc-local, token removed)
    nct: np.ndarray,          # T × C
    nwc_w: np.ndarray,        # per-class count of THIS word (C-indexed slice)
    nt: np.ndarray,           # T
    nc: np.ndarray,           # C
    cls: np.ndarray,          # allowed classes for this word
    alpha: float,
    beta: float,
    zeta: float,
    C: int,
    W: int,
) -> tuple[int, int]:
    """One joint draw over the T × |cls| grid (t-major flatten)."""
    term_c = (nwc_w[cls] + zeta) / (nc[cls] + W * zeta)           # |cls|
    grid = (
        (ntd[:, None] + alpha)
        * (nct[:, cls] + beta) / (nt[:, None] + C * beta)
        * term_c[None, :]
    )
    cdf = np.cumsum(grid.ravel())
    u = rng_u * cdf[-1]
    flat = int(np.searchsorted(cdf, u, side="right").clip(0, cdf.size - 1))
    return flat // len(cls), int(cls[flat % len(cls)])


class OntoPartOracle:
    """Sequential NumPy reference for bit-parity tests (SURVEY §5)."""

    def __init__(
        self,
        corpus: dict[int, tuple[np.ndarray, np.ndarray]],  # doc → (word_ids, freqs)
        cls_cand: dict[int, np.ndarray],                   # word → allowed classes
        cfg: OntoPartConfig,
    ):
        from .oracle import doc_token_words

        self.cfg = cfg
        self.cls_cand = cls_cand
        T, C, W = cfg.n_topics, cfg.n_classes, cfg.n_words
        self.doc_ids = sorted(corpus)
        self.tokens = {d: doc_token_words(*corpus[d]) for d in self.doc_ids}
        self.nct = np.zeros((T, C), dtype=np.int64)
        self.nwc = np.zeros((C, W), dtype=np.int64)
        self.ntd = {d: np.zeros(T, dtype=np.int64) for d in self.doc_ids}
        self.ts: dict[int, np.ndarray] = {}
        self.cs: dict[int, np.ndarray] = {}
        for d in self.doc_ids:
            rng = rng_for(cfg.base_seed, -1, d)
            ws = self.tokens[d]
            t_arr = np.empty(len(ws), dtype=np.int64)
            c_arr = np.empty(len(ws), dtype=np.int64)
            for i, w in enumerate(ws):
                cls = cls_cand[int(w)]
                t = rng.randint(T)
                c = int(cls[rng.randint(len(cls))])
                t_arr[i], c_arr[i] = t, c
                self.ntd[d][t] += 1
                self.nct[t, c] += 1
                self.nwc[c, w] += 1
            self.ts[d], self.cs[d] = t_arr, c_arr
        self.nt = self.nct.sum(axis=1)
        self.nc = self.nwc.sum(axis=1)

    def sweep(self, sweep_idx: int) -> None:
        cfg = self.cfg
        for d in self.doc_ids:
            _sweep_doc(
                rng_for(cfg.base_seed, sweep_idx, d), self.tokens[d],
                self.ts[d], self.cs[d], self.ntd[d], self.nct, self.nwc,
                self.nt, self.nc, self.cls_cand, cfg.alpha_eff, cfg.beta,
                cfg.zeta, cfg.n_classes, cfg.n_words,
            )

    def run(self, n_sweeps: int) -> None:
        for s in range(n_sweeps):
            self.sweep(s)

    def posteriors(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(θ D×T, φ T×C, ζ C×W), 4-decimal rounded."""
        cfg = self.cfg
        a, b, z0 = cfg.alpha_eff, cfg.beta, cfg.zeta
        T, C, W = cfg.n_topics, cfg.n_classes, cfg.n_words
        theta = np.zeros((len(self.doc_ids), T))
        for row, d in enumerate(self.doc_ids):
            theta[row] = (self.ntd[d] + a) / (len(self.tokens[d]) + T * a)
        phi = (self.nct + b) / (self.nt[:, None] + C * b)
        zeta = (self.nwc + z0) / (self.nc[:, None] + W * z0)
        return np.round(theta, 4), np.round(phi, 4), np.round(zeta, 4)


def _sweep_doc(
    rng, ws, ts, cs, ntd, nct, nwc, nt, nc, cand, alpha, beta, zeta, C, W,
):
    """One Gibbs pass over a doc's tokens — the oracle's loop and the
    interpreted twin of the C grid kernel, bit-identical to it
    (test_ontopart_fused.py), so a compiler-less executor agrees with
    native even mid-block. Mutates ts/cs/ntd/nct/nwc/nt/nc in place;
    returns the changed-token lists (w, t_old, c_old, t_new, c_new)."""
    changed: tuple[list[int], ...] = ([], [], [], [], [])
    for i in range(len(ws)):
        w, t_old, c_old = int(ws[i]), int(ts[i]), int(cs[i])
        ntd[t_old] -= 1
        nct[t_old, c_old] -= 1
        nwc[c_old, w] -= 1
        nt[t_old] -= 1
        nc[c_old] -= 1
        t_new, c_new = _sample_token(
            rng.rand(), ntd, nct, nwc[:, w], nt, nc, cand[w],
            alpha, beta, zeta, C, W,
        )
        ts[i], cs[i] = t_new, c_new
        ntd[t_new] += 1
        nct[t_new, c_new] += 1
        nwc[c_new, w] += 1
        nt[t_new] += 1
        nc[c_new] += 1
        if t_new != t_old or c_new != c_old:
            for col, v in zip(changed, (w, t_old, c_old, t_new, c_new)):
                col.append(v)
    return changed


def _onto_step(lib, csr, nct0, nwc0, T, C, W, alpha, beta, zeta, max_cls):
    """The M6 batch-sweep callable for ``chain.run_sweeps``: the C grid
    kernel where ``lib`` loaded, else its interpreted twin. Both mutate
    ONE set of partition-local working copies (AD-LDA) for the pass."""
    cls_indptr, cls_data = csr
    nct, nwc = nct0.copy(), nwc0.copy()
    nt, nc = nct.sum(axis=1), nwc.sum(axis=1)
    if lib is None:
        cand = {
            w: cls_data[cls_indptr[w]:cls_indptr[w + 1]]
            for w in range(len(cls_indptr) - 1)
        }

        def sweep_doc(blk, j, lo, hi, rng):
            ts, cs = blk.state
            ntd = np.bincount(ts[lo:hi], minlength=T).astype(np.int64)
            return _sweep_doc(
                rng, blk.ws[lo:hi], ts[lo:hi], cs[lo:hi], ntd, nct, nwc, nt,
                nc, cand, alpha, beta, zeta, C, W,
            )

        return per_doc(sweep_doc, 5)

    nct_flat, nwc_flat = nct.ravel(), nwc.ravel()
    ntd = np.zeros(T, dtype=np.int64)
    termc = np.empty(max(max_cls, 1), dtype=np.float64)
    cdf = np.empty(max(T * max_cls, 1), dtype=np.float64)

    def native_step(blk, seeds):
        ts, cs = blk.state
        return native_kernel.onto_sweep_batch_native(
            lib, blk.indptr, blk.ws, ts, cs, seeds, T, C, W,
            nct_flat, nwc_flat, nt, nc, cls_indptr, cls_data,
            alpha, beta, zeta, ntd, termc, cdf,
        )

    return native_step


def _onto_init(csr, rng, ws, out, T):
    """Seeded init draw of one doc: per token a uniform topic, then a
    uniform allowed class off the class CSR."""
    ip, data = csr
    ts, cs = out
    for i, w in enumerate(ws.tolist()):
        ts[i] = rng.randint(T)
        cs[i] = data[ip[w] + rng.randint(ip[w + 1] - ip[w])]


class DistributedOntoPart(Chain):
    """The M6 chain on the shared engine (models/chain.py).

        m = DistributedOntoPart(spark, corpus_df, class_word_df, cfg)
        m.run(n_sweeps)
        theta, phi, zeta = m.theta(), m.phi(), m.zeta()
    """

    model = "M6"

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,          # doc_id, word_id, freq
        class_word: DataFrame,      # class_id, word_id (classToWordMap)
        cfg: OntoPartConfig,
    ):
        super().__init__(spark, cfg, LAYOUT)
        self.cls_cand = _collect_cls_cand(class_word)
        if not native_kernel.native_available():
            warnings.warn(
                "OntoPart: no C compiler — sweeps run the interpreted twin"
                " (bit-identical, slower)", stacklevel=2,
            )
        self._csr = native_kernel.cand_to_csr(self.cls_cand, cfg.n_words)
        self._max_cls = (
            int(np.diff(self._csr[0]).max()) if self.cls_cand else 1
        )
        self.corpus = corpus
        self.nct: np.ndarray | None = None
        self.nwc: np.ndarray | None = None

    # ---- engine hooks ----
    def _source(self) -> DataFrame:
        return tokens_from_corpus(self.corpus)

    def _init_draw(self):
        return partial(_onto_init, T=self.cfg.n_topics)

    def _reset_counts(self) -> None:
        cfg = self.cfg
        self.nct = np.zeros((cfg.n_topics, cfg.n_classes), dtype=np.int64)
        self.nwc = np.zeros((cfg.n_classes, cfg.n_words), dtype=np.int64)

    def _add_counts(self, cols, n) -> None:
        w, t, c = cols
        np.add.at(self.nct, (t, c), n)
        np.add.at(self.nwc, (c, w), n)

    def _sweeper(self):
        cfg, max_cls = self.cfg, self._max_cls

        def make(counts, csr):
            return _onto_step(native_kernel.load_native(), csr, *counts,
                              cfg.n_topics, cfg.n_classes, cfg.n_words,
                              cfg.alpha_eff, cfg.beta, cfg.zeta, max_cls)

        return (self.nct, self.nwc), make

    def _sweep_const(self):
        return self._csr

    # ---- posteriors ----
    def theta(self) -> DataFrame:
        """θ(doc_id, topic) = round((Ntd+α)/(Nd+T·α), 4), distributed."""
        cfg = self.cfg
        return self._doc_posterior("ts", "topic", cfg.alpha_eff,
                                   cfg.n_topics, "theta")

    def phi(self) -> np.ndarray:
        """φ T×C = round((Nct+β)/(Nt+C·β), 4) — dense, driver-side (small)."""
        cfg = self.cfg
        nt = self.nct.sum(axis=1)
        return np.round(
            (self.nct + cfg.beta) / (nt[:, None] + cfg.n_classes * cfg.beta), 4
        )

    def zeta(self) -> np.ndarray:
        """ζ C×W = round((Nwc+ζ0)/(Nc+W·ζ0), 4) — dense, driver-side."""
        cfg = self.cfg
        nc = self.nwc.sum(axis=1)
        return np.round(
            (self.nwc + cfg.zeta) / (nc[:, None] + cfg.n_words * cfg.zeta), 4
        )
