"""M4 EntLDA2 — joint (entity, topic) collapsed Gibbs (SURVEY §2.8).

Re-expresses
/root/reference/TextProcessing/src/cs/uga/edu/enttopicmodel/EntLDA2.java:
every token (d, w) carries a latent (entity e, topic z) PAIR, drawn
jointly over the doc's candidate entities × topics
(sampleEntityAndTopicAssignment, :143-165):

    p(e, z | d, w) ∝ (Ned[d][e] + τ) / (Nd[d] + E·τ)          # entity|doc
                   · (Nte[e][z] + α_ez) / (Ne[e] + Σα_e)       # topic|entity
                   · (Nwte[e][z][w] + β) / (Nte[e][z] + W·β)   # word|ent,topic

with the flat index ctr·T + z over candidates ctr (cumulative-sum
inverse draw, sample(), :279-295). The per-entity α matrix is smoothed
from SR-graph neighbours after burn-in (computeAlpha, :306-325) and θ is
pushed through an SR fixed-point (optimizeParameter, :247-264) each
post-burn-in iteration, per the runGibbsSampling schedule (:109-134):

    for itr in 0..nIter-1:
        if itr+1 == burn_in: computeTheta(); computeAlpha()
        sweep all tokens (docs with no candidate entities are skipped,
        :126 — their random init assignments stay in the counts forever,
        which we reproduce: init draws z~U(T) then e~U(E) for EVERY
        token, :617-635)
        if itr+1 >= burn_in: optimizeParameter(); computeAlpha()

Documented reference quirks we do NOT reproduce (same policy as
A5/W5/M6, SURVEY §2.4):

  - computeAlpha / recomputeThetaProb (:312, :270) index θ by the LOOP
    COUNTER over the neighbour array (`theta[v][t_i]`), not by the
    neighbour id (`theta[neighbors[v]][t_i]`) — we use the neighbour id,
    the evident intent;
  - `T / neighbors.length` (:318) is Java INT division (zeroes the
    smoothing once |nbrs| > T); we use float division — the same
    deviation models/oracle.alpha_from_neighbors documents for M3;
  - Nt is updated in lock-step with Nte everywhere (updateCounts,
    :297-304) so Nt ≡ Nte; we keep one matrix;
  - candidate/neighbour list order is file-appearance order there
    (processCorpusEntityFile, :637-688); we sort ascending — a canonical
    order both the oracle and the distributed path share.

SURVEY §2.8 descoped M4 as "memory-explosive": the Java code allocates
Nwte DENSE as int[E][T][W] (initializeMatrices, :713) — 17,355 entities
× 50 topics × vocab doubles RAM per vocab word. The Spark-first answer
is that Nwte is SPARSE with at most one nonzero per distinct
(entity, topic, word) triple actually assigned — nnz ≤ corpus tokens —
so we carry it as {word: {(e, t): count}} and the model costs O(N), not
O(E·T·W). That is what un-descopes M4.

Distribution is the AD-LDA scheme of every sampler here, on the shared
engine (models/chain.py): token state partitioned by doc_id (doc-local
Ned row exact), global Nte/Ne/sparse-Nwte + the E×T α matrix broadcast
per sweep and updated partition-locally (stale across partitions within
a sweep), then refreshed exactly from the signed count rows the sweep pass
emits (one job, no shuffle). θ/α/SR smoothing are driver-side
E×T NumPy shared verbatim with the oracle and run around each sweep
(``_schedule``). RNG is seeded per
(base_seed, sweep, doc) with a fixed draw order (init: one randint(T)
then one randint(E) per token; sweep: one rand per token of
candidate-bearing docs), so a 1-partition run is bit-identical to the
sequential oracle below.

Scale: token state never leaves its partition; what crosses the cluster
per sweep is Nte (E×T, T small) + sparse Nwte (nnz ≤ N distinct
assignment triples, in practice ≪ N after mixing) + α (E×T). The
per-doc candidate list rides IN the state as a pass-through column (no
driver dict of all docs). Driver-side θ/α is E×T dense — entities ×
topics, the same footprint the reference's posterior export already
commits to.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .chain import Chain, Layout, per_doc
from .gibbs import tokens_from_corpus
from .oracle import doc_token_words, rng_for

# each doc carries its candidate entities through every sweep; the
# counts are kept over (word, entity, topic)
LAYOUT = Layout("doc_id", "words", ("es", "zs"), carry=("cands",))

# sparse Nwte: word -> {(entity, topic): count}; nnz <= corpus tokens
SparseNwte = dict[int, dict[tuple[int, int], int]]


@dataclass
class EntLda2Config:
    n_topics: int
    n_entities: int
    n_words: int
    alpha: float = 0.1            # ALPHA (ModelParameters.java:35)
    beta: float = 0.1             # BETA  (:36)
    tau: float | None = None      # TAU = 50/T (:37)
    epsilon: float = 0.9          # EPSILON (:38)
    gamma: float = 0.7            # gamma (:39)
    burn_in: int = 2              # burnIn (:34 — 200 of 500 there)
    base_seed: int = 7
    n_partitions: int = 8

    @property
    def tau_eff(self) -> float:
        return self.tau if self.tau is not None else 50.0 / self.n_topics


# ---------------------------------------------------------------------
# shared kernels — the oracle and every distributed partition call THESE
# functions with identically-ordered inputs, so the two implementations
# agree bit-for-bit (same contract as models/ontopart._sample_token)
# ---------------------------------------------------------------------

def _sample_token(
    rng_u: float,
    ned_c: np.ndarray,        # |c| — candidate-entity counts of THIS doc
    nd_m: int,                # Nd[d] with the token removed
    nte_c: np.ndarray,        # |c| × T slice of Nte (token removed)
    ne_c: np.ndarray,         # |c| slice of Ne
    alpha_c: np.ndarray,      # |c| × T slice of alphaMat
    sum_alpha_c: np.ndarray,  # |c| slice of sumAlpha
    nwte_w: np.ndarray,       # |c| × T dense slice of Nwte[·][·][w]
    cands: np.ndarray,        # candidate entity ids (ascending)
    tau: float,
    beta: float,
    E: int,
    W: int,
) -> tuple[int, int]:
    """One joint draw over the |cands| × T grid (candidate-major flatten
    — pr[ctr·T + t], EntLDA2.java:156)."""
    T = nte_c.shape[1]
    pr_e = (ned_c + tau) / (nd_m + E * tau)
    pr_z = (nte_c + alpha_c) / (ne_c[:, None] + sum_alpha_c[:, None])
    pr_w = (nwte_w + beta) / (nte_c + W * beta)
    grid = pr_e[:, None] * pr_z * pr_w
    cdf = np.cumsum(grid.ravel())
    u = rng_u * cdf[-1]
    flat = int(np.searchsorted(cdf, u, side="right").clip(0, cdf.size - 1))
    return int(cands[flat // T]), flat % T


def _sweep_doc(
    rng: np.random.RandomState,
    ws: np.ndarray,
    es: np.ndarray,           # mutated in place
    zs: np.ndarray,           # mutated in place
    cands: np.ndarray,
    nte: np.ndarray,          # mutated in place (working copy on executors)
    ne: np.ndarray,           # mutated in place
    nwte: SparseNwte,         # mutated in place
    alpha_mat: np.ndarray,
    sum_alpha: np.ndarray,
    tau: float,
    beta: float,
    E: int,
    W: int,
) -> tuple[list[int], list[int], list[int], list[int], list[int]]:
    """One Gibbs pass over a doc's tokens; returns the changed-token log
    (w, e_old, t_old, e_new, t_new) the sweep's count rows come from."""
    T = nte.shape[1]
    pos = {int(e): i for i, e in enumerate(cands)}
    ned_c = np.zeros(len(cands), dtype=np.int64)
    for e in es:
        i = pos.get(int(e))
        if i is not None:
            ned_c[i] += 1
    nd_m = len(ws) - 1
    alpha_c = alpha_mat[cands, :]
    sum_alpha_c = sum_alpha[cands]
    changed: tuple[list[int], ...] = ([], [], [], [], [])
    for i in range(len(ws)):
        w, e_old, t_old = int(ws[i]), int(es[i]), int(zs[i])
        j = pos.get(e_old)
        if j is not None:
            ned_c[j] -= 1
        nte[e_old, t_old] -= 1
        ne[e_old] -= 1
        sub = nwte.get(w)
        if sub is not None:
            c = sub.get((e_old, t_old), 0) - 1
            if c:
                sub[(e_old, t_old)] = c
            else:
                sub.pop((e_old, t_old), None)
        nwte_w = np.zeros((len(cands), T))
        if sub:
            for (e, t), cnt in sub.items():
                jj = pos.get(e)
                if jj is not None:
                    nwte_w[jj, t] = cnt
        e_new, t_new = _sample_token(
            rng.rand(), ned_c, nd_m, nte[cands, :], ne[cands],
            alpha_c, sum_alpha_c, nwte_w, cands, tau, beta, E, W,
        )
        es[i], zs[i] = e_new, t_new
        ned_c[pos[e_new]] += 1
        nte[e_new, t_new] += 1
        ne[e_new] += 1
        sub2 = nwte.setdefault(w, {})
        sub2[(e_new, t_new)] = sub2.get((e_new, t_new), 0) + 1
        if e_new != e_old or t_new != t_old:
            changed[0].append(w)
            changed[1].append(e_old)
            changed[2].append(t_old)
            changed[3].append(e_new)
            changed[4].append(t_new)
    return changed


def _compute_theta(
    nte: np.ndarray, ne: np.ndarray,
    alpha_mat: np.ndarray, sum_alpha: np.ndarray,
) -> np.ndarray:
    """θ E×T = round((Nte+α)/(Ne+Σα), 4) (computeTheta, :342-348)."""
    return np.round(
        (nte + alpha_mat) / (ne[:, None] + sum_alpha[:, None]), 4
    )


def _compute_alpha(
    theta: np.ndarray,
    ent_nbrs: list[np.ndarray],
    alpha_mat: np.ndarray,        # mutated in place
    sum_alpha: np.ndarray,        # mutated in place
    alpha0: float,
    epsilon: float,
) -> None:
    """SR-neighbour-smoothed α refresh (computeAlpha, :306-325), with the
    neighbour-id indexing and float T/|nbrs| fixes noted in the module
    docstring. sumAlpha updates incrementally in the reference's exact
    op order (:322), preserved for bit-reproducibility."""
    E, T = alpha_mat.shape
    for e in range(E):
        nbrs = ent_nbrs[e]
        for t in range(T):
            old = alpha_mat[e, t]
            if len(nbrs):
                sum_prob = 0.0
                for v in nbrs:
                    sum_prob += theta[v, t]
                alpha_mat[e, t] = (
                    (1.0 - epsilon) * alpha0
                    + epsilon * (T / len(nbrs)) * sum_prob
                )
            else:
                alpha_mat[e, t] = (1.0 - epsilon) * alpha0
            sum_alpha[e] = sum_alpha[e] - old + alpha_mat[e, t]


def _optimize_theta(
    theta: np.ndarray,            # mutated in place
    ent_nbrs: list[np.ndarray],
    ent_srs: list[np.ndarray],
    gamma: float,
) -> None:
    """SR fixed-point θ push (optimizeParameter/recomputeThetaProb,
    :247-277): θ_et only ever increases, toward the SR-weighted
    neighbour average, 4-decimal-rounded inside the loop exactly like
    the reference (Math.round ≈ np.round per repo convention). θ is
    updated IN PLACE cell by cell in (e, t) order, so later entities see
    earlier entities' optimized values — the reference's sequential
    dependence, preserved verbatim."""
    E, T = theta.shape
    for e in range(E):
        nbrs, srs = ent_nbrs[e], ent_srs[e]
        for t in range(T):
            sum_prob = 0.0
            sum_sr = 0.0
            for v, s in zip(nbrs, srs):
                sum_prob += s * theta[v, t]
                sum_sr += s
            if sum_sr == 0:
                sum_sr = 1.0
            target = sum_prob / sum_sr
            pr1 = theta[e, t]
            pr2 = np.round((1.0 - gamma) * pr1 + gamma * target, 4)
            while pr2 > pr1:
                pr1 = pr2
                pr2 = np.round((1.0 - gamma) * pr1 + gamma * target, 4)
            if pr1 >= theta[e, t]:
                theta[e, t] = pr1


def _compute_phi(
    nte: np.ndarray, nwte: SparseNwte, beta: float, W: int,
) -> np.ndarray:
    """φ T×W = Σ_e round((Nwte[e][t][w]+β)/(Nte[e][t]+W·β), 4)
    (computePhi, :350-360 — the reference sums the ROUNDED per-entity
    terms; we keep that). Computed sparsely: the zero-count term
    round(β/(Nte+W·β), 4) is summed once per (t) column and corrected at
    the nonzero triples in sorted key order (deterministic regardless of
    dict insertion history, so oracle and distributed agree exactly)."""
    denom = nte + W * beta                       # E×T
    base = np.round(beta / denom, 4)             # E×T
    phi = np.repeat(base.sum(axis=0)[:, None], W, axis=1)  # T×W
    for w in sorted(nwte):
        for (e, t) in sorted(nwte[w]):
            cnt = nwte[w][(e, t)]
            phi[t, w] += np.round((cnt + beta) / denom[e, t], 4) - base[e, t]
    return phi


def _schedule(m, itr: int, before: bool) -> None:
    """The reference's burn-in schedule around sweep ``itr`` (:116-134),
    shared by the oracle and the distributed chain ``m``: θ and α once
    just before burn-in ends, then θ, its SR optimization and α after
    every post-burn-in sweep."""
    cfg = m.cfg
    fire = itr + 1 == cfg.burn_in if before else itr + 1 >= cfg.burn_in
    if not fire:
        return
    m.theta = _compute_theta(m.nte, m.ne, m.alpha_mat, m.sum_alpha)
    if not before:
        _optimize_theta(m.theta, m.ent_nbrs, m.ent_srs, cfg.gamma)
    _compute_alpha(m.theta, m.ent_nbrs, m.alpha_mat, m.sum_alpha,
                   cfg.alpha, cfg.epsilon)


def _init_alpha(cfg: EntLda2Config) -> tuple[np.ndarray, np.ndarray]:
    """alphaMat = ALPHA everywhere, sumAlpha = T·ALPHA (:719-720)."""
    alpha_mat = np.full((cfg.n_entities, cfg.n_topics), cfg.alpha)
    sum_alpha = np.full(cfg.n_entities, cfg.n_topics * cfg.alpha)
    return alpha_mat, sum_alpha


# ---------------------------------------------------------------------
# sequential oracle
# ---------------------------------------------------------------------

class EntLda2Oracle:
    """Sequential NumPy reference for bit-parity tests (SURVEY §5).

    ``corpus``: doc → (word_ids, freqs); ``doc_cands``: doc → ascending
    candidate entity ids (docEntMat); ``ent_nbrs``/``ent_srs``: entity →
    ascending SR-neighbour ids / weights (entEntMat/entEntSrMat).
    """

    def __init__(
        self,
        corpus: dict[int, tuple[np.ndarray, np.ndarray]],
        doc_cands: dict[int, np.ndarray],
        ent_nbrs: list[np.ndarray],
        ent_srs: list[np.ndarray],
        cfg: EntLda2Config,
    ):
        self.cfg = cfg
        E, T = cfg.n_entities, cfg.n_topics
        self.doc_ids = sorted(corpus)
        self.tokens = {d: doc_token_words(*corpus[d]) for d in self.doc_ids}
        self.cands = {
            d: np.asarray(doc_cands.get(d, ()), dtype=np.int64)
            for d in self.doc_ids
        }
        self.ent_nbrs, self.ent_srs = ent_nbrs, ent_srs
        self.nte = np.zeros((E, T), dtype=np.int64)
        self.ne = np.zeros(E, dtype=np.int64)
        self.nwte: SparseNwte = {}
        self.es: dict[int, np.ndarray] = {}
        self.zs: dict[int, np.ndarray] = {}
        for d in self.doc_ids:
            rng = rng_for(cfg.base_seed, -1, d)
            ws = self.tokens[d]
            z_arr = np.empty(len(ws), dtype=np.int64)
            e_arr = np.empty(len(ws), dtype=np.int64)
            for i, w in enumerate(ws):
                z_arr[i] = rng.randint(T)       # z then e per token (:621-623)
                e_arr[i] = rng.randint(E)
                self.nte[e_arr[i], z_arr[i]] += 1
                self.ne[e_arr[i]] += 1
                sub = self.nwte.setdefault(int(w), {})
                key = (int(e_arr[i]), int(z_arr[i]))
                sub[key] = sub.get(key, 0) + 1
            self.es[d], self.zs[d] = e_arr, z_arr
        self.alpha_mat, self.sum_alpha = _init_alpha(cfg)
        self.theta = np.zeros((E, T))
        self.sweeps_done = 0

    def sweep(self, sweep_idx: int) -> None:
        cfg = self.cfg
        for d in self.doc_ids:
            if len(self.cands[d]) == 0:
                continue                        # :126 — skipped forever
            rng = rng_for(cfg.base_seed, sweep_idx, d)
            _sweep_doc(
                rng, self.tokens[d], self.es[d], self.zs[d], self.cands[d],
                self.nte, self.ne, self.nwte, self.alpha_mat,
                self.sum_alpha, cfg.tau_eff, cfg.beta,
                cfg.n_entities, cfg.n_words,
            )

    def run(self, n_sweeps: int) -> None:
        for _ in range(n_sweeps):
            itr = self.sweeps_done
            _schedule(self, itr, before=True)
            self.sweep(itr)
            self.sweeps_done += 1
            _schedule(self, itr, before=False)

    def phi(self) -> np.ndarray:
        return _compute_phi(self.nte, self.nwte, self.cfg.beta,
                            self.cfg.n_words)

    def zeta(self) -> dict[int, np.ndarray]:
        """doc → dense E vector round((Ned+τ)/(Nd+E·τ), 4) (:362-368)."""
        cfg = self.cfg
        E, tau = cfg.n_entities, cfg.tau_eff
        out = {}
        for d in self.doc_ids:
            ned = np.bincount(self.es[d], minlength=E).astype(np.int64)
            out[d] = np.round(
                (ned + tau) / (len(self.tokens[d]) + E * tau), 4
            )
        return out


# ---------------------------------------------------------------------
# distributed sampler
# ---------------------------------------------------------------------

def nbrs_from_rows(
    rows: list[tuple[int, int, int, float]], E: int,
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Pure-Python twin of _nbrs_from_df for building oracle inputs from
    literal (doc_id, ent_id, rel_ent_id, sr) rows — same semantics
    (unique neighbour per entity, max sr, ascending neighbour order), so
    oracle and distributed runs see identical SR graphs."""
    tmp: dict[int, dict[int, float]] = {}
    for _d, e, r, s in rows:
        sub = tmp.setdefault(int(e), {})
        sub[int(r)] = max(sub.get(int(r), float("-inf")), float(s))
    ent_nbrs, ent_srs = [], []
    for e in range(E):
        pairs = sorted(tmp.get(e, {}).items())
        ent_nbrs.append(np.asarray([p[0] for p in pairs], dtype=np.int64))
        ent_srs.append(np.asarray([p[1] for p in pairs]))
    return ent_nbrs, ent_srs


def _nbrs_from_df(doc_ent: DataFrame, E: int) -> tuple[list, list]:
    """entity → (ascending SR-neighbour ids, weights) from the
    (doc_id, ent_id, rel_ent_id, sr) table (corpusConceptsSr.txt rows,
    processCorpusEntityFile :668-686; dedup keeps the first sr per
    neighbour there — with our canonical ascending order we keep the
    max, deterministic under any row order)."""
    pdf = (
        doc_ent.groupBy("ent_id", "rel_ent_id")
        .agg(F.max("sr").alias("sr"))
        .toPandas()
    )
    return nbrs_from_rows(
        [(0, e, r, s) for e, r, s in
         zip(pdf["ent_id"], pdf["rel_ent_id"], pdf["sr"])],
        E,
    )


def _m4_init(_const, rng, ws, out, T, E):
    """Seeded init draw of one doc: z ~ U(T) then e ~ U(E) for EVERY
    token, candidate-less docs included (:617-635)."""
    es, zs = out
    for i in range(len(ws)):
        zs[i] = rng.randint(T)
        es[i] = rng.randint(E)


def _m4_step(counts, tau, beta, E, W):
    """The M4 batch-sweep callable for ``chain.run_sweeps``: _sweep_doc
    per doc over the flat slices, against partition-local working copies
    of the broadcast counts (AD-LDA)."""
    nte0, ne0, nwte0, alpha_mat, sum_alpha = counts
    nte, ne = nte0.copy(), ne0.copy()
    nwte = {w: dict(sub) for w, sub in nwte0.items()}

    def sweep_doc(blk, j, lo, hi, rng):
        c_off, c_vals = blk.carry[0]
        cands = c_vals[c_off[j]:c_off[j + 1]]
        if len(cands) == 0:
            return [], [], [], [], []      # :126 — skipped forever
        es, zs = blk.state
        return _sweep_doc(
            rng, blk.ws[lo:hi], es[lo:hi], zs[lo:hi], cands, nte, ne, nwte,
            alpha_mat, sum_alpha, tau, beta, E, W,
        )

    return per_doc(sweep_doc, 5)


class DistributedEntLda2(Chain):
    """The M4 chain on the shared engine (models/chain.py).

        m = DistributedEntLda2(spark, corpus_df, doc_ent_df, cfg)
        m.run(n_sweeps)
        theta = m.theta_matrix(); phi = m.phi(); zeta = m.zeta()
    """

    model = "M4"
    # the burn-in schedule's state: a restore must continue it
    driver_state = ("theta", "alpha_mat", "sum_alpha")

    def __init__(
        self,
        spark: SparkSession,
        corpus: DataFrame,        # doc_id, word_id, freq
        doc_ent: DataFrame,       # doc_id, ent_id, rel_ent_id, sr
        cfg: EntLda2Config,
    ):
        super().__init__(spark, cfg, LAYOUT)
        self.corpus = corpus
        self.doc_ent = doc_ent
        self.ent_nbrs, self.ent_srs = _nbrs_from_df(doc_ent, cfg.n_entities)
        self.nte: np.ndarray | None = None
        self.ne: np.ndarray | None = None
        self.nwte: SparseNwte | None = None
        self.alpha_mat, self.sum_alpha = _init_alpha(cfg)
        self.theta = np.zeros((cfg.n_entities, cfg.n_topics))

    # ---- engine hooks ----
    def _source(self) -> DataFrame:
        """Tokens plus each doc's ascending candidate entities (empty for
        a candidate-less doc)."""
        cands = self.doc_ent.groupBy("doc_id").agg(
            F.sort_array(F.collect_set(F.col("ent_id").cast("long")))
            .alias("cands")
        )
        return tokens_from_corpus(self.corpus).join(
            cands, "doc_id", "left"
        ).select(
            "doc_id", "words",
            F.coalesce(
                F.col("cands"), F.array().cast("array<long>")
            ).alias("cands"),
        )

    def _init_draw(self):
        cfg = self.cfg
        # the θ/α schedule restarts with the chain
        self.alpha_mat, self.sum_alpha = _init_alpha(cfg)
        self.theta = np.zeros((cfg.n_entities, cfg.n_topics))
        return partial(_m4_init, T=cfg.n_topics, E=cfg.n_entities)

    def _reset_counts(self) -> None:
        cfg = self.cfg
        self.nte = np.zeros((cfg.n_entities, cfg.n_topics), dtype=np.int64)
        self.ne = np.zeros(cfg.n_entities, dtype=np.int64)
        self.nwte = {}

    def _add_counts(self, cols, n) -> None:
        w, e, t = cols
        np.add.at(self.nte, (e, t), n)
        np.add.at(self.ne, e, n)
        for wi, key, ni in zip(w.tolist(), zip(e.tolist(), t.tolist()),
                               n.tolist()):
            sub = self.nwte.setdefault(wi, {})
            c = sub.get(key, 0) + ni
            if c:
                sub[key] = c
            else:
                sub.pop(key, None)

    def _sweeper(self):
        cfg = self.cfg
        payload = (self.nte, self.ne, self.nwte, self.alpha_mat,
                   self.sum_alpha)
        step = partial(_m4_step, tau=cfg.tau_eff, beta=cfg.beta,
                       E=cfg.n_entities, W=cfg.n_words)
        return payload, lambda counts, _const: step(counts)

    def _schedule(self, itr: int, before: bool) -> None:
        _schedule(self, itr, before)

    # ---- posteriors ----
    def theta_matrix(self) -> np.ndarray:
        """Current θ E×T (post-burn-in: the SR-optimized one)."""
        if self.sweeps_done + 1 <= self.cfg.burn_in:
            return _compute_theta(
                self.nte, self.ne, self.alpha_mat, self.sum_alpha
            )
        return self.theta

    def phi(self) -> np.ndarray:
        """φ T×W — driver-side from the sparse Nwte (see _compute_phi)."""
        return _compute_phi(self.nte, self.nwte, self.cfg.beta,
                            self.cfg.n_words)

    def zeta(self) -> DataFrame:
        """ζ(doc_id, ent_id, zeta) = round((Ned+τ)/(Nd+E·τ), 4),
        distributed, NONZERO cells only — the dense completion is the
        constant round(τ/(Nd+E·τ), 4) for every absent (doc, entity)
        cell (the reference materializes all D×E, :362-368; at scale
        that is exactly the dense trap M4 was descoped for, so the
        DataFrame carries the sparse part and `zeta_fill_value` the
        rest)."""
        cfg = self.cfg
        return self._doc_posterior("es", "ent_id", cfg.tau_eff,
                                   cfg.n_entities, "zeta")

    def zeta_fill_value(self, nd: int) -> float:
        """ζ of an unassigned (doc, entity) cell for a doc of nd tokens."""
        cfg = self.cfg
        return float(
            np.round(cfg.tau_eff / (nd + cfg.n_entities * cfg.tau_eff), 4)
        )
