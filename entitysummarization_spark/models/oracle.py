"""Single-threaded NumPy reference implementation of the EntSumModel
constrained collapsed-Gibbs sampler (SURVEY.md §5 item 2).

Implements the exact conditional of
/root/reference/TextProcessing/src/cs/uga/edu/esum/EntSumModel.java:176-184

    p(p | d, w) ∝ (Npd[d][p] + α) / (Nd[d] + P·α)
               · (Nwp[p][w] + λ[p][w]·β) / (Np[p] + Σ_w λ[p][w]·β)

with candidate predicates restricted to objectToPredicateMap[w]
(:167,173-186), random init (:709-727), CDF linear-scan sampling
(:494-510 — here cumsum+searchsorted), and the 4-decimal posterior
rounding of :553,563. The reference's A5 accumulation bug
(sumPredObjWeight doubling, :112-116) is intentionally NOT reproduced —
we compute the intended row sum (SURVEY.md §2.4 A5).

RNG discipline: one RandomState per (base_seed, sweep, doc), tokens drawn
in order — identical to the distributed sampler in gibbs.py, so a
1-partition distributed run is bit-identical to this oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


def seed_for(base_seed: int, sweep: int, doc_id: int) -> int:
    return (
        base_seed * 1_000_003 + sweep * 10_007 + int(doc_id) * 131
    ) % (2**32 - 1)


def rng_for(base_seed: int, sweep: int, doc_id: int) -> np.random.RandomState:
    return np.random.RandomState(seed_for(base_seed, sweep, doc_id))


def doc_token_words(word_ids: np.ndarray, freqs: np.ndarray) -> np.ndarray:
    """Deterministic token layout: ascending word_id, repeated freq times."""
    order = np.argsort(word_ids, kind="stable")
    return np.repeat(word_ids[order], freqs[order]).astype(np.int64)


def alpha_from_neighbors(
    nbrs: list[tuple[int, int, np.ndarray, np.ndarray]],
    P: int,
    alpha0: float,
    epsilon: float,
) -> np.ndarray:
    """M3 SR-graph-smoothed per-doc α (EntLDA.computeAlpha,
    src/cs/uga/edu/enttopicmodel/EntLDA.java:319-338):

        α_d[p] = (1−ε)·α0 + ε·(P/|nbrs|)·Σ_nbr θ_nbr[p]
        (no neighbors → (1−ε)·α0)

    with θ_nbr[p] = round((npd+α0)/(nd+P·α0), 4) — the base-α θ of the
    neighbor, 4-decimal-rounded like every reference posterior
    (EntSumModel.java:553). Two documented deviations from the reference:
    (1) `T / neighbors.length` is Java INT division there (a quirk that
    zeroes the smoothing for large neighborhoods); we implement the
    intended float division (SURVEY §7). (2) the reference's
    EntLDA.computeTheta (EntLDA.java:352-358) evaluates θ_nbr with the
    CURRENT smoothed alphaMat/sumAlpha, making the smoothing recursive
    across refreshes; we use the base α0 — an intentional simplification
    that keeps each refresh a pure function of the synchronized counts
    (no cross-refresh hidden state), which is what makes the distributed
    sweep's between-sweep α refresh well-defined and bit-reproducible.

    ``nbrs`` must be sorted by neighbor id and each entry is
    (nbr_id, nd, pred_ids, counts); both the NumPy oracle and the
    distributed sweep call THIS function with identically-ordered input,
    so the two implementations agree bit-for-bit.
    """
    if not nbrs:
        return np.full(P, (1.0 - epsilon) * alpha0)
    sum_prob = np.zeros(P)
    for _nbr_id, nd, ps, ns in nbrs:
        theta_nbr = np.full(P, alpha0 / (nd + P * alpha0))
        if len(ps):
            theta_nbr[np.asarray(ps, dtype=np.int64)] = (
                np.asarray(ns, dtype=np.float64) + alpha0
            ) / (nd + P * alpha0)
        sum_prob += np.round(theta_nbr, 4)
    return (1.0 - epsilon) * alpha0 + epsilon * (P / len(nbrs)) * sum_prob


def _sweep_doc_reference(
    ws, zs, nd, nwp, np_, cand, lam, slb, beta, alpha, av, a_sum, rng
):
    """Per-token NumPy kernel of one doc — the M1 arbiter: GibbsOracle
    runs it, and so does the chain (models/gibbs.py) under
    ``kernel="reference"`` or on an executor without a C compiler; the
    C kernel is held bit-identical to it (EntSumModel.java:133-192
    semantics). One rng.rand() per token, CDF
    over the word's candidate predicates, in-place count updates. Mutates
    zs/nd/nwp/np_; returns the changed-token lists (word, old pred, new
    pred) the sweep's signed count rows come from."""
    ndoc = len(ws)
    use_m3 = av is not None
    ch_w: list = []
    ch_old: list = []
    ch_new: list = []
    for i in range(ndoc):
        w, p_old = int(ws[i]), int(zs[i])
        nd[p_old] -= 1
        nwp[p_old, w] -= 1
        np_[p_old] -= 1
        c = cand[w]
        a_c = av[c] if use_m3 else alpha
        probs = (
            (nd[c] + a_c) / (ndoc - 1 + a_sum)
            * (nwp[c, w] + lam[c, w] * beta)
            / (np_[c] + slb[c])
        )
        cdf = np.cumsum(probs)
        u = rng.rand() * cdf[-1]
        p_new = int(
            c[int(np.searchsorted(cdf, u, side="right").clip(0, len(c) - 1))]
        )
        zs[i] = p_new
        nd[p_new] += 1
        nwp[p_new, w] += 1
        np_[p_new] += 1
        if p_new != p_old:
            ch_w.append(w)
            ch_old.append(p_old)
            ch_new.append(p_new)
    return ch_w, ch_old, ch_new


@dataclass
class OracleState:
    doc_ids: list[int]
    tokens: dict[int, np.ndarray]   # doc -> word ids per token
    z: dict[int, np.ndarray]        # doc -> predicate assignment per token
    nwp: np.ndarray                 # P × W
    np_: np.ndarray                 # P
    npd: dict[int, np.ndarray]      # doc -> P
    theta: np.ndarray | None = None
    phi: np.ndarray | None = None


class GibbsOracle:
    def __init__(
        self,
        corpus: dict[int, tuple[np.ndarray, np.ndarray]],  # doc -> (word_ids, freqs)
        cand: dict[int, np.ndarray],                        # word -> candidate preds
        n_preds: int,
        n_words: int,
        lam: np.ndarray | None = None,                      # P × W weights (default 1)
        alpha: float | None = None,
        beta: float = 0.01,
        base_seed: int = 7,
        doc_nbrs: dict[int, list[int]] | None = None,
        epsilon: float = 0.9,
        n_partitions: int = 1,
        partition_of=None,
    ):
        """``n_partitions`` > 1 simulates the distributed AD-LDA sweep
        exactly (gibbs.py): each partition sweeps its docs (ascending
        doc_id) against a LOCAL copy of the pre-sweep global counts, then
        the global counts are recomputed from the merged z-state.
        ``partition_of(doc_id) -> pid`` defaults to Spark's
        ``repartition(n, "doc_id")`` assignment
        (functions.murmur3.partition_of_long), so an n-partition
        DistributedGibbs run is bit-identical to this oracle — the hard
        multi-partition parity signal behind kg_pipeline_summaries."""
        self.P, self.W = n_preds, n_words
        self.alpha = alpha if alpha is not None else 50.0 / n_preds
        self.beta = beta
        self.base_seed = base_seed
        # M3 option: SR-graph neighborhood per doc (sorted); None → plain M1
        self.doc_nbrs = (
            {d: sorted(v) for d, v in doc_nbrs.items()} if doc_nbrs else None
        )
        self.epsilon = epsilon
        self.n_partitions = n_partitions
        if partition_of is None and n_partitions > 1:
            from ..functions.murmur3 import partition_of_long

            partition_of = lambda d: partition_of_long(d, n_partitions)  # noqa: E731
        self.partition_of = partition_of
        self.alpha_vec: dict[int, np.ndarray] = {}
        self.lam = lam if lam is not None else np.ones((n_preds, n_words))
        self.sum_lam_beta = self.lam.sum(axis=1) * beta  # intended A5 row sum
        self.cand = cand

        doc_ids = sorted(corpus)
        tokens = {d: doc_token_words(*corpus[d]) for d in doc_ids}
        nwp = np.zeros((n_preds, n_words), dtype=np.int64)
        np_ = np.zeros(n_preds, dtype=np.int64)
        npd: dict[int, np.ndarray] = {}
        z: dict[int, np.ndarray] = {}
        for d in doc_ids:
            rng = rng_for(base_seed, -1, d)  # init sweep = -1
            ws = tokens[d]
            zs = np.empty(len(ws), dtype=np.int64)
            nd = np.zeros(n_preds, dtype=np.int64)
            for i, w in enumerate(ws):
                c = cand[int(w)]
                p = int(c[rng.randint(len(c))])
                zs[i] = p
                nd[p] += 1
                nwp[p, w] += 1
                np_[p] += 1
            z[d] = zs
            npd[d] = nd
        self.state = OracleState(doc_ids, tokens, z, nwp, np_, npd)

    def refresh_alpha(self) -> None:
        """M3: recompute per-doc α from the current synchronized counts
        (between sweeps, like EntLDA's computeAlpha between iterations)."""
        if self.doc_nbrs is None:
            return
        s = self.state
        a = self.alpha
        for d in s.doc_ids:
            nbr_ids = self.doc_nbrs.get(d, [])
            nbrs = []
            for nb in nbr_ids:
                if nb not in s.npd:
                    continue
                dense = s.npd[nb]
                ps = np.nonzero(dense)[0]
                nbrs.append((nb, len(s.tokens[nb]), ps, dense[ps]))
            self.alpha_vec[d] = alpha_from_neighbors(nbrs, self.P, a, self.epsilon)

    def sweep(self, sweep_idx: int) -> None:
        """One sweep. Sequential (1 partition) and AD-LDA (k partitions)
        are the same code path: every partition sweeps against a local
        copy of the pre-sweep global counts, then the global counts are
        rebuilt exactly from the merged z-state — with one partition the
        local copy IS the running global state, so this is bit-identical
        to the original sequential loop."""
        s = self.state
        P, a, b = self.P, self.alpha, self.beta
        if self.doc_nbrs is not None:
            self.refresh_alpha()
        if self.partition_of is not None:
            parts: dict[int, list[int]] = {}
            for d in s.doc_ids:  # ascending → ascending within partition
                parts.setdefault(self.partition_of(d), []).append(d)
            groups = [parts[p] for p in sorted(parts)]
        else:
            groups = [list(s.doc_ids)]
        snap_nwp, snap_np = s.nwp, s.np_
        for docs in groups:
            nwp = snap_nwp.copy()
            np_ = snap_np.copy()
            for d in docs:
                if self.doc_nbrs is not None:
                    av = self.alpha_vec[d]
                    a_sum = float(av.sum())
                else:
                    av, a_sum = None, P * a
                _sweep_doc_reference(
                    s.tokens[d], s.z[d], s.npd[d], nwp, np_, self.cand,
                    self.lam, self.sum_lam_beta, b, a, av, a_sum,
                    rng_for(self.base_seed, sweep_idx, d),
                )
        # exact global refresh from the merged z-state (the chain's
        # _refresh_global_counts analog)
        nwp_g = np.zeros((P, self.W), dtype=np.int64)
        for d in s.doc_ids:
            np.add.at(nwp_g, (s.z[d], s.tokens[d]), 1)
        s.nwp = nwp_g
        s.np_ = nwp_g.sum(axis=1)

    def run(self, n_sweeps: int) -> None:
        for t in range(n_sweeps):
            self.sweep(t)
        self.compute_posteriors()

    def compute_posteriors(self) -> None:
        s = self.state
        D = len(s.doc_ids)
        theta = np.zeros((D, self.P))
        for row, d in enumerate(s.doc_ids):
            nd_tot = len(s.tokens[d])
            theta[row] = (s.npd[d] + self.alpha) / (nd_tot + self.P * self.alpha)
        phi = (s.nwp + self.lam * self.beta) / (
            s.np_[:, None] + self.sum_lam_beta[:, None]
        )
        # 4-decimal rounding, EntSumModel.java:553,563
        s.theta = np.round(theta, 4)
        s.phi = np.round(phi, 4)

    def top_k_facts(
        self, facts: list[tuple[int, int, int]], k: int = 5
    ) -> dict[int, list[tuple[int, int, float]]]:
        """Rank observed (doc, pred, word) facts by θ[d,p]·φ[p,w] (W6)."""
        s = self.state
        row = {d: i for i, d in enumerate(s.doc_ids)}
        by_doc: dict[int, list[tuple[int, int, float]]] = {}
        for d, p, w in facts:
            sc = float(s.theta[row[d], p] * s.phi[p, w])
            by_doc.setdefault(d, []).append((p, w, sc))
        return {
            d: sorted(v, key=lambda t: (-t[2], t[0], t[1]))[:k]
            for d, v in by_doc.items()
        }
