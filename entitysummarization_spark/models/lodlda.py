"""M7 LodLda — contextual user×movie×feature LDA (SURVEY §2.8).

Re-expresses /root/reference/TextProcessing/src/cs/uga/edu/lodlda/
LodLda.java: each interaction record (user u, movie m) carries one
latent topic z, sampled over T topics (the active 5-feature
sampleTopicAssignment, :645-676):

    p(z | u, m) ∝ (Ntu[u][z] + α) / (Nu[u] + T·α)           # topic|user
               · (Nmt[z][m] + β) / (Nt_m[z] + M·β)          # movie|topic
               · Π_{f ∈ ctx(m)} (Nct[z][f] + γ) / (Nt_c[z] + F·γ)

where ctx(m) is the movie's fixed list of nContexts feature ids
(readMovieContextFile, :830-854). Inverse-CDF draw over the
UNNORMALIZED cumulative (sample(), :701-718). Defaults mirror the
reference fields (:69-77): T=20, F=10 features, C=5 contexts/movie,
α=50/T, β=0.01, γ=0.01, 1000 iterations, no burn-in behavior (the
burnIn hooks are commented out, :536-538/:556-559).

Init (initializeGibbsSampling, :720-744) draws, per record, z ~ U(T)
THEN 5 × c_k ~ U(F) — the initial Nct counts come from those RANDOM
features, not the movie's true contexts; each record's first resample
decrements exactly the random features it deposited, after which the
record's context assignment is pinned to ctx(m) (:672-676). We
reproduce that: the per-record context assignment rides in the state
(``cs``) so first-sweep decrements are exact.

Documented reference quirks we do NOT reproduce (same policy as
A5/W5/M6/M4):

  - updateCounts(…, List, val) (:690-699) updates ``Nt_c[tId] +=
    ctext.size()`` IGNORING the sign of ``val`` — every resample grows
    Nt_c by 2·C instead of leaving it conserved (the 2-feature overload
    :678-688 does it correctly with ``2 * val``), so the pr_c
    denominator diverges ~10·N per sweep. We keep the evident intent:
    Nt_c ≡ Nct row sums (conserved at C·N total).
  - the reference's single global java.util.Random makes every record's
    draw depend on file order; per repo convention (models/gibbs.py,
    models/entlda2.py) we seed per (base_seed, sweep, user_id) with a
    canonical record order (movies ascending within user), so a
    1-partition run is bit-identical to the sequential oracle below.
  - top-N ties: getSortedIndexArray's insertion sort is
    order-dependent; we fix the tie-break to (score desc, movie_id asc)
    in both the oracle and the DataFrame path.

Posteriors (:477-531): θ U×T, φ T×M, ζ T×F — each cell
round(·, 4), then per-row normalize by the sum OF THE ROUNDED cells,
then round(·, 4) again; reproduced verbatim. Recommendation scoring
(computeRecommendationScore, :99-134): for test pairs,
rank[u][m] = P(m|u) · P(ctx(m)|u,m) with
P(m|u) = Σ_t φ[t][m]·θ[u][t] (:304-311) and
P(c|u,m) = Π_{f∈ctx(m)} Σ_t ζ[t][f]·φ[t][m]·θ[u][t] / P(m|u)
(:284-302, zero-norm → 1), then per-user normalization over the test
movies with round(·, 4) (zero-sum → 1). Top-N hit rate
(findTopNRecommendation, :136-161): SCRM = |test users with a
test-set movie in their top N| / |test users|.

Distribution — the Spark-first shape this model wants, on the shared
engine (models/chain.py):

  - records are partitioned BY USER, so Ntu[u]/Nu[u] are exact
    partition-local state (only the user's own records touch them) —
    the same trick that makes doc-local counts exact in the other
    samplers. The ONLY global AD-LDA state is Nmt (T×M), Nct (T×F)
    and their row sums — topics × movies/features, tiny (the user
    dimension, the one that grows with data, never crosses the
    cluster);
  - a record's context assignment is stored as ``n_contexts``
    token-aligned columns (``cs0…``), so the engine's runner and count
    refresh treat it like any other state column;
  - per sweep the global matrices broadcast out, each partition sweeps
    its users against stale copies and emits its signed count rows in
    the same pass, and the driver refreshes exactly from them
    (integer-delta induction, arbitrated against the absolute recompute
    by the parity tests);
  - θ (U×T) is never materialized on the driver: ``theta_df`` computes
    it distributed per user and the scoring join broadcasts only the
    movie dim (φ/ζ/ctx, M×T). At MovieLens-and-beyond scale U is the
    100-TB axis; M, F, T are the small ones.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import partial

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .chain import Chain, Layout, doc_count, per_doc
from .oracle import rng_for


@dataclass
class LodLdaConfig:
    n_topics: int                 # nTopics (LodLda.java:70)
    n_movies: int                 # nMovies (:69)
    n_features: int               # nFeatures (:72)
    n_contexts: int = 5           # nContexts (:71)
    alpha: float | None = None    # ALPHA = 50/T (:75)
    beta: float = 0.01            # BETA (:76)
    gamma: float = 0.01           # GAMMA (:77)
    base_seed: int = 7
    n_partitions: int = 8

    @property
    def alpha_eff(self) -> float:
        return self.alpha if self.alpha is not None else 50.0 / self.n_topics


# ---------------------------------------------------------------------
# shared kernels — the oracle and every distributed partition call THESE
# with identically-ordered inputs (same contract as entlda2/ontopart)
# ---------------------------------------------------------------------

def _sample_record(
    rng_u: float,
    ntu_u: np.ndarray,    # T — this user's topic counts (record removed)
    nu_m: int,            # Nu[u] with the record removed
    nmt_m: np.ndarray,    # T — Nmt[:, m] (record removed)
    nt_m: np.ndarray,     # T
    nct: np.ndarray,      # T×F (record removed)
    nt_c: np.ndarray,     # T
    ctx_m: np.ndarray,    # C — the movie's true context features
    alpha: float,
    beta: float,
    gamma: float,
    M: int,
    FEAT: int,
) -> int:
    """One topic draw (sampleTopicAssignment :645-666 probability, the
    unnormalized-CDF inverse draw of sample() :701-718)."""
    T = ntu_u.shape[0]
    pr = (ntu_u + alpha) / (nu_m + T * alpha)
    pr = pr * (nmt_m + beta) / (nt_m + M * beta)
    denom_c = nt_c + FEAT * gamma
    for f in ctx_m:
        pr = pr * (nct[:, f] + gamma) / denom_c
    cdf = np.cumsum(pr)
    u = rng_u * cdf[-1]
    return int(np.searchsorted(cdf, u, side="right").clip(0, T - 1))


def _sweep_user(
    rng: np.random.RandomState,
    movies: np.ndarray,
    zs: np.ndarray,       # mutated in place
    cs: list[np.ndarray],  # mutated in place — per-record feature arrays
    ntu_u: np.ndarray,    # mutated in place (user-local, exact)
    nmt: np.ndarray,      # mutated in place (working copy on executors)
    nt_m: np.ndarray,     # mutated in place
    nct: np.ndarray,      # mutated in place
    nt_c: np.ndarray,     # mutated in place
    ctx: np.ndarray,      # M×C — true movie contexts
    alpha: float,
    beta: float,
    gamma: float,
    M: int,
    FEAT: int,
) -> tuple[list[int], list[int], list[int], list[np.ndarray]]:
    """One Gibbs pass over a user's records; returns the changed-record
    log (m, t_old, t_new, old features) the sweep's count rows come from.
    Nu[u] with one record removed is len-1 throughout (the reference's
    paired Nu ∓1, :694/:697)."""
    nu_m = len(movies) - 1
    changed: tuple[list, ...] = ([], [], [], [])
    for i in range(len(movies)):
        m, t_old = int(movies[i]), int(zs[i])
        c_old = cs[i]
        ctx_m = ctx[m]
        ntu_u[t_old] -= 1
        nmt[t_old, m] -= 1
        nt_m[t_old] -= 1
        for f in c_old:
            nct[t_old, f] -= 1
        nt_c[t_old] -= len(c_old)
        t_new = _sample_record(
            rng.rand(), ntu_u, nu_m, nmt[:, m], nt_m, nct, nt_c,
            ctx_m, alpha, beta, gamma, M, FEAT,
        )
        zs[i] = t_new
        cs[i] = ctx_m
        ntu_u[t_new] += 1
        nmt[t_new, m] += 1
        nt_m[t_new] += 1
        for f in ctx_m:
            nct[t_new, f] += 1
        nt_c[t_new] += len(ctx_m)
        if t_new != t_old or not np.array_equal(c_old, ctx_m):
            changed[0].append(m)
            changed[1].append(t_old)
            changed[2].append(t_new)
            changed[3].append(np.asarray(c_old, dtype=np.int64))
    return changed


def _round_norm_round(mat: np.ndarray) -> np.ndarray:
    """The reference posterior discipline (:477-531): cells are already
    round(·,4); divide each row by the sum of its ROUNDED cells
    (zero-sum rows divide by 1) and round again."""
    s = mat.sum(axis=1)
    s[s == 0] = 1.0
    return np.round(mat / s[:, None], 4)


def _compute_phi(nmt: np.ndarray, nt_m: np.ndarray, beta: float,
                 M: int) -> np.ndarray:
    """φ T×M (computePhi, :495-512)."""
    raw = np.round((nmt + beta) / (nt_m[:, None] + M * beta), 4)
    return _round_norm_round(raw)


def _compute_zeta(nct: np.ndarray, nt_c: np.ndarray, gamma: float,
                  FEAT: int) -> np.ndarray:
    """ζ T×F (computeZeta, :514-531)."""
    raw = np.round((nct + gamma) / (nt_c[:, None] + FEAT * gamma), 4)
    return _round_norm_round(raw)


def _theta_rows(counts: np.ndarray, nu: np.ndarray, alpha: float,
                T: int) -> np.ndarray:
    """θ rows (computeTheta, :477-493) for users with counts U'×T."""
    raw = np.round((counts + alpha) / (nu[:, None] + T * alpha), 4)
    return _round_norm_round(raw)


def _rank_matrix(
    theta_rows: dict[int, np.ndarray],
    phi: np.ndarray,
    zeta: np.ndarray,
    ctx: np.ndarray,
    test_users: list[int],
    test_movies: list[int],
) -> dict[tuple[int, int], float]:
    """computeRecommendationScore (:99-134) over test users × movies:
    rank = P(m|u)·P(ctx|u,m), then per-user normalize over the test
    movies with the round(·,4) (zero-sum → 1) discipline."""
    raw: dict[tuple[int, int], float] = {}
    for u in test_users:
        th = theta_rows[u]
        for m in test_movies:
            a = phi[:, m] * th
            pr_m = float(a.sum())
            norm = pr_m if pr_m != 0 else 1.0
            pr_c = 1.0
            for f in ctx[m]:
                pr_c *= float((zeta[:, f] * a).sum()) / norm
            raw[(u, m)] = pr_m * pr_c
    out: dict[tuple[int, int], float] = {}
    for u in test_users:
        s = sum(raw[(u, m)] for m in test_movies)
        if s == 0:
            s = 1.0
        for m in test_movies:
            out[(u, m)] = float(np.round(raw[(u, m)] / s, 4))
    return out


def _scrm(
    rank: dict[tuple[int, int], float],
    user_movies: dict[int, set],
    test_users: list[int],
    test_movies: list[int],
    n: int,
) -> float:
    """findTopNRecommendation (:136-161): fraction of test users whose
    top-N (score desc, movie_id asc) contains one of their own test
    movies."""
    hit = 0
    for u in test_users:
        top = sorted(test_movies, key=lambda m: (-rank[(u, m)], m))[:n]
        if any(m in user_movies.get(u, ()) for m in top):
            hit += 1
    return hit / len(test_users)


def ctx_from_rows(
    rows: list[tuple[int, int, int]], M: int, C: int,
) -> np.ndarray:
    """(movie_id, slot, feature_id) rows → M×C context matrix, slot
    order (the movieContextMap file layout, :830-854)."""
    ctx = np.zeros((M, C), dtype=np.int64)
    for m, s, f in rows:
        ctx[m, s] = f
    return ctx


# ---------------------------------------------------------------------
# sequential oracle
# ---------------------------------------------------------------------

class _Counts:
    """Nmt/Nct row sums and the φ/ζ posteriors, shared by the oracle and
    the distributed chain."""

    @property
    def nt_m(self) -> np.ndarray:
        return self.nmt.sum(axis=1)

    @property
    def nt_c(self) -> np.ndarray:
        return self.nct.sum(axis=1)

    def phi(self) -> np.ndarray:
        return _compute_phi(self.nmt, self.nt_m, self.cfg.beta,
                            self.cfg.n_movies)

    def zeta(self) -> np.ndarray:
        return _compute_zeta(self.nct, self.nt_c, self.cfg.gamma,
                             self.cfg.n_features)


class LodLdaOracle(_Counts):
    """Sequential NumPy reference for bit-parity tests (SURVEY §5).

    ``records``: user → ascending movie ids (one entry per interaction);
    ``ctx``: M×C true movie context features.
    """

    def __init__(
        self,
        records: dict[int, np.ndarray],
        ctx: np.ndarray,
        cfg: LodLdaConfig,
    ):
        self.cfg = cfg
        T, M, FEAT = cfg.n_topics, cfg.n_movies, cfg.n_features
        C = cfg.n_contexts
        self.user_ids = sorted(records)
        self.records = {
            u: np.sort(np.asarray(records[u], dtype=np.int64))
            for u in self.user_ids
        }
        self.ctx = ctx
        self.ntu = {u: np.zeros(T, dtype=np.int64) for u in self.user_ids}
        self.nmt = np.zeros((T, M), dtype=np.int64)
        self.nct = np.zeros((T, FEAT), dtype=np.int64)
        self.zs: dict[int, np.ndarray] = {}
        self.cs: dict[int, list[np.ndarray]] = {}
        for u in self.user_ids:
            rng = rng_for(cfg.base_seed, -1, u)
            ms = self.records[u]
            z_arr = np.empty(len(ms), dtype=np.int64)
            c_list = []
            for i, m in enumerate(ms):
                z_arr[i] = rng.randint(T)      # z then C features (:723-728)
                c_i = np.asarray(
                    [rng.randint(FEAT) for _ in range(C)], dtype=np.int64
                )
                c_list.append(c_i)
                self.nmt[z_arr[i], int(m)] += 1
                for f in c_i:
                    self.nct[z_arr[i], f] += 1
                self.ntu[u][z_arr[i]] += 1
            self.zs[u], self.cs[u] = z_arr, c_list
        self.sweeps_done = 0

    def sweep(self, sweep_idx: int) -> None:
        cfg = self.cfg
        nt_m, nt_c = self.nt_m.copy(), self.nt_c.copy()
        for u in self.user_ids:
            rng = rng_for(cfg.base_seed, sweep_idx, u)
            _sweep_user(
                rng, self.records[u], self.zs[u], self.cs[u], self.ntu[u],
                self.nmt, nt_m, self.nct, nt_c, self.ctx, cfg.alpha_eff,
                cfg.beta, cfg.gamma, cfg.n_movies, cfg.n_features,
            )

    def run(self, n_sweeps: int) -> None:
        for _ in range(n_sweeps):
            self.sweep(self.sweeps_done)
            self.sweeps_done += 1

    def theta(self) -> dict[int, np.ndarray]:
        cfg = self.cfg
        counts = np.stack([self.ntu[u] for u in self.user_ids])
        nu = np.asarray([len(self.records[u]) for u in self.user_ids])
        rows = _theta_rows(counts, nu, cfg.alpha_eff, cfg.n_topics)
        return {u: rows[i] for i, u in enumerate(self.user_ids)}

    def rank_matrix(
        self, test_users: list[int], test_movies: list[int],
    ) -> dict[tuple[int, int], float]:
        return _rank_matrix(self.theta(), self.phi(), self.zeta(),
                            self.ctx, test_users, test_movies)


# ---------------------------------------------------------------------
# distributed sampler
# ---------------------------------------------------------------------

def _m7_init(_const, rng, ms, out, T, FEAT):
    """Seeded init draw of one user: per record z ~ U(T), then the
    nContexts random features, slot by slot (:723-728)."""
    zs, *cs = out
    for i in range(len(ms)):
        zs[i] = rng.randint(T)
        for c in cs:
            c[i] = rng.randint(FEAT)


def _m7_step(counts, ctx, T, M, FEAT, alpha, beta, gamma):
    """The M7 batch-sweep callable for ``chain.run_sweeps``: _sweep_user
    per user over the flat slices, against partition-local working
    copies of the broadcast counts (AD-LDA). A changed record's new
    context features are its movie's, ``ctx[m]``."""
    nmt0, nct0 = counts
    nmt, nct = nmt0.copy(), nct0.copy()
    nt_m, nt_c = nmt.sum(axis=1), nct.sum(axis=1)
    C = ctx.shape[1]

    def sweep_user(blk, j, lo, hi, rng):
        zs, *cs_cols = blk.state
        z = zs[lo:hi]  # a view: the kernel writes through
        # a LIST of rows: _sweep_user rebinds cs[i] to the movie's
        # context, so the c_old it read stays the record's old row
        cs = list(np.stack([c[lo:hi] for c in cs_cols], axis=1))
        ntu_u = np.bincount(z, minlength=T).astype(np.int64)
        m, to, tn, co = _sweep_user(
            rng, blk.ws[lo:hi], z, cs, ntu_u, nmt, nt_m, nct, nt_c, ctx,
            alpha, beta, gamma, M, FEAT,
        )
        new = np.stack(cs, axis=1)
        for k, c in enumerate(cs_cols):
            c[lo:hi] = new[k]
        return (m, to, *np.asarray(co, dtype=np.int64).reshape(-1, C).T,
                tn, *ctx[m].T)

    return per_doc(sweep_user, 3 + 2 * C)


class DistributedLodLda(_Counts, Chain):
    """The M7 chain on the shared engine (models/chain.py), over
    user-partitioned record state. A record's context assignment is
    stored as ``n_contexts`` token-aligned columns ``cs0…``.

        m = DistributedLodLda(spark, ratings_df, ctx_df, cfg)
        m.run(n_sweeps)
        theta = m.theta_df(); scores = m.score_df(test_df)
    """

    model = "M7"

    def __init__(
        self,
        spark: SparkSession,
        ratings: DataFrame,       # user_id, movie_id
        movie_ctx: DataFrame,     # movie_id, slot, feature_id
        cfg: LodLdaConfig,
    ):
        super().__init__(spark, cfg, Layout(
            "user_id", "movies",
            ("zs", *(f"cs{k}" for k in range(cfg.n_contexts))),
        ))
        self.ratings = ratings
        rows = [
            (int(r["movie_id"]), int(r["slot"]), int(r["feature_id"]))
            for r in movie_ctx.collect()  # M×C dim table — driver-small
        ]
        self.ctx = ctx_from_rows(rows, cfg.n_movies, cfg.n_contexts)
        self.nmt: np.ndarray | None = None
        self.nct: np.ndarray | None = None

    # ---- engine hooks ----
    def _source(self) -> DataFrame:
        return self.ratings.groupBy("user_id").agg(
            F.sort_array(F.collect_list(F.col("movie_id").cast("long")))
            .alias("movies")
        )

    def _init_draw(self):
        return partial(_m7_init, T=self.cfg.n_topics, FEAT=self.cfg.n_features)

    def _reset_counts(self) -> None:
        cfg = self.cfg
        self.nmt = np.zeros((cfg.n_topics, cfg.n_movies), dtype=np.int64)
        self.nct = np.zeros((cfg.n_topics, cfg.n_features), dtype=np.int64)

    def _add_counts(self, cols, n) -> None:
        m, t, *cs = cols
        np.add.at(self.nmt, (t, m), n)
        for f in cs:
            np.add.at(self.nct, (t, f), n)

    def _sweeper(self):
        cfg = self.cfg
        return (self.nmt, self.nct), partial(
            _m7_step, T=cfg.n_topics, M=cfg.n_movies, FEAT=cfg.n_features,
            alpha=cfg.alpha_eff, beta=cfg.beta, gamma=cfg.gamma,
        )

    def _sweep_const(self):
        return self.ctx

    def _z_record(self, arrs):
        zs, *cs = arrs
        return zs, list(np.stack(cs, axis=1))

    # ---- posteriors ----
    def theta_df(self) -> DataFrame:
        """θ distributed: (user_id, theta array<double>[T]) with the
        reference's round→normalize-by-rounded-sum→round discipline
        (computeTheta, :477-493). U×T never reaches the driver."""
        cfg = self.cfg
        T, alpha = cfg.n_topics, cfg.alpha_eff
        counts = F.transform(F.sequence(F.lit(0), F.lit(T - 1)),
                             lambda t: doc_count("zs", t))
        raw = F.transform(
            counts,
            lambda c: F.bround(
                (c + F.lit(alpha))
                / (F.size("zs") + F.lit(T * alpha)), 4,
            ),
        )
        s = F.aggregate(raw, F.lit(0.0), lambda a, x: a + x)
        s = F.when(s == 0, F.lit(1.0)).otherwise(s)
        return self.state.select(
            "user_id",
            F.transform(raw, lambda x: F.bround(x / s, 4)).alias("theta"),
        )

    def _movie_dim(self, test_movies: list[int]) -> DataFrame:
        """Broadcastable movie dim: φ column, ζ columns of the movie's
        context features (C×T), per test movie."""
        phi, zeta = self.phi(), self.zeta()
        rows = [
            (
                int(m),
                [float(x) for x in phi[:, m]],
                [[float(x) for x in zeta[:, f]] for f in self.ctx[m]],
            )
            for m in test_movies
        ]
        return self.spark.createDataFrame(
            rows,
            "movie_id long, phi_m array<double>,"
            " zeta_ctx array<array<double>>",
        )

    def score_df(self, test: DataFrame) -> DataFrame:
        """computeRecommendationScore (:99-134) as one DataFrame job:
        (user_id, movie_id, score) over TEST USERS × TEST MOVIES (the
        reference crosses the two sets drawn from the test file), scored
        via a broadcast movie dim against the distributed θ, then
        window-normalized per user. ``test``: (user_id, movie_id)."""
        users = test.select("user_id").distinct()
        movies = [
            int(r["movie_id"])
            for r in test.select("movie_id").distinct().collect()
        ]
        # join θ to the (small) test-user set via broadcast FIRST, then
        # cross with the broadcast movie dim: the distributed θ is never
        # shuffled for the join (a users-then-θ join order plans a
        # SortMergeJoin with an Exchange over θ); the window's per-user
        # partitioning below is the query's only exchange
        pairs = self.theta_df().join(F.broadcast(users), "user_id").crossJoin(
            F.broadcast(self._movie_dim(movies))
        )
        a = F.zip_with("theta", "phi_m", lambda t, p: t * p)
        pr_m = F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x)
        norm = F.when(pr_m == 0, F.lit(1.0)).otherwise(pr_m)
        pr_c = F.aggregate(
            F.col("zeta_ctx"),
            F.lit(1.0),
            lambda acc, zf: acc * (
                F.aggregate(
                    F.zip_with(zf, a, lambda z, av: z * av),
                    F.lit(0.0),
                    lambda s, x: s + x,
                )
                / norm
            ),
        )
        raw = pairs.select(
            "user_id", "movie_id", (pr_m * pr_c).alias("raw")
        )
        w = Window.partitionBy("user_id")
        s = F.sum("raw").over(w)
        s = F.when(s == 0, F.lit(1.0)).otherwise(s)
        return raw.select(
            "user_id", "movie_id",
            F.bround(F.col("raw") / s, 4).alias("score"),
        )

    def scrm(self, test: DataFrame, n: int) -> float:
        """Top-N hit rate (findTopNRecommendation, :136-161), tie-break
        (score desc, movie_id asc)."""
        scores = self.score_df(test)
        w = Window.partitionBy("user_id").orderBy(
            F.desc("score"), F.asc("movie_id")
        )
        top = scores.withColumn("rk", F.row_number().over(w)).filter(
            F.col("rk") <= n
        )
        hits = (
            top.join(test.distinct(), ["user_id", "movie_id"])
            .select("user_id")
            .distinct()
            .count()
        )
        n_users = test.select("user_id").distinct().count()
        return hits / n_users
