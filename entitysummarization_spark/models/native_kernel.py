"""Native (C / ctypes) sweep kernels for M1 and M6.

The constrained collapsed-Gibbs token loop (EntSumModel.java:133-192
semantics, see models/gibbs.py) is inherently sequential per document:
token i's conditional depends on token i-1's update, so it cannot be
vectorized in NumPy. This module compiles that exact loop to machine
code at runtime with the system C compiler and calls it once per Arrow
batch through ctypes, from the shared block runner (models/chain.py).
An executor without a compiler runs each kernel's interpreted twin,
its sampler's oracle kernel: oracle._sweep_doc_reference for
``sweep_batch`` and ontopart._sweep_doc for ``onto_sweep_batch``.

Bit-identity contract (arbitrated by tests/test_gibbs_kernels.py, which
asserts z-chain AND count-matrix equality against the reference kernel):

  - RNG: NumPy's legacy MT19937 is re-implemented exactly — scalar-int
    seeding (init_genrand with numpy's ``+ pos + 1`` formulation, i.e.
    ``RandomState(seed)`` / ``rng.seed(seed)`` for seeds < 2**32) and
    ``random_sample`` ((a>>5)*2**26 + (b>>6)) / 2**53. Seeds come from
    the same ``oracle.seed_for(base_seed, sweep, doc)``; one uniform per
    token, drawn in token order, as the twin's ``rng.rand()`` per token.
  - Arithmetic: the candidate probability is evaluated with the same
    IEEE-754 op order as the Python expression
    ``(nd+α)/denom * (nwp+λβ) / (np+Σλβ)`` (C's ``/``/``*`` are
    left-associative like Python's); the CDF is ``np.cumsum``'s
    sequential ``total = total + p`` accumulation; compiled with
    ``-ffp-contract=off`` so no FMA changes the rounding.
  - Selection: binary search reproducing
    ``np.searchsorted(cdf, u, side="right")`` (first index with
    cdf[k] > u), clamped to the last candidate.

Candidates are passed CSR-packed (indptr/data over word ids) and
λ·β pre-multiplied — both sweep-constant, prepared once driver-side by
DistributedGibbs and shipped in the sweep-constant broadcast.

Compilation: the source is hashed into a per-user temp dir and built
once per machine (atomic rename makes concurrent builds safe); workers
just dlopen the cached .so. If no C compiler is available,
``load_native()`` returns None and the runner sweeps with the
interpreted twin — bit-identical, so a heterogeneous-cluster mix of
fallbacks still produces the same chain.
"""

from __future__ import annotations

import ctypes
import getpass
import hashlib
import os
import subprocess
import tempfile

import numpy as np

C_SOURCE = r"""
#include <stdint.h>
#include <string.h>

/* NumPy legacy MT19937 (numpy/random/src/mt19937/mt19937.c — public
   BSD-licensed algorithm; re-derived here from the published recurrence,
   not copied). */
#define MT_N 624
typedef struct { uint32_t key[MT_N]; int pos; } mt_t;

static void mt_seed(mt_t *st, uint32_t s) {
    int pos;
    for (pos = 0; pos < MT_N; pos++) {
        st->key[pos] = s;
        s = 1812433253UL * (s ^ (s >> 30)) + pos + 1;
    }
    st->pos = MT_N;
}

static uint32_t mt_next32(mt_t *st) {
    uint32_t y;
    if (st->pos == MT_N) {
        uint32_t *k = st->key;
        int i;
        for (i = 0; i < MT_N; i++) {
            y = (k[i] & 0x80000000UL) | (k[(i + 1) % MT_N] & 0x7fffffffUL);
            k[i] = k[(i + 397) % MT_N] ^ (y >> 1)
                   ^ ((y & 1) ? 0x9908b0dfUL : 0UL);
        }
        st->pos = 0;
    }
    y = st->key[st->pos++];
    y ^= y >> 11;
    y ^= (y << 7) & 0x9d2c5680UL;
    y ^= (y << 15) & 0xefc60000UL;
    y ^= y >> 18;
    return y;
}

/* numpy random_sample: two 32-bit draws -> one 53-bit double */
static double mt_double(mt_t *st) {
    uint32_t a = mt_next32(st) >> 5, b = mt_next32(st) >> 6;
    return (a * 67108864.0 + b) / 9007199254740992.0;
}

/* One AD-LDA sweep over a batch of documents.  Token layout is flat with
   doc_indptr boundaries; zs / nwp / np_ are updated in place (the
   partition-local AD-LDA working copies).  Changed tokens are appended
   flat to ch_w/ch_old/ch_new.  Returns the number of changed tokens. */
int64_t sweep_batch(
    int64_t n_docs,
    const int64_t *doc_indptr,
    const int64_t *ws,
    int64_t *zs,
    const uint32_t *seeds,
    int64_t P,
    int64_t W,
    int64_t *nwp,
    int64_t *np_,
    const int64_t *cand_indptr,
    const int64_t *cand_data,
    const double *lam_beta,
    const double *slb,
    double alpha,
    const double *av_mat,   /* NULL, or n_docs x P per-doc alpha (M3) */
    const double *a_sums,   /* NULL, or per-doc alpha sums (M3) */
    int64_t *nd,            /* scratch, len P */
    double *cdf,            /* scratch, len >= max candidate count */
    int64_t *ch_w,
    int64_t *ch_old,
    int64_t *ch_new
) {
    int64_t n_changed = 0;
    mt_t st;
    for (int64_t d = 0; d < n_docs; d++) {
        const int64_t t0 = doc_indptr[d], t1 = doc_indptr[d + 1];
        const int64_t ndoc = t1 - t0;
        const double *av = av_mat ? av_mat + d * P : 0;
        const double a_sum = av_mat ? a_sums[d] : (double)P * alpha;
        const double denom = (double)(ndoc - 1) + a_sum;
        mt_seed(&st, seeds[d]);
        memset(nd, 0, (size_t)P * sizeof(int64_t));
        for (int64_t i = t0; i < t1; i++) nd[zs[i]]++;
        for (int64_t i = t0; i < t1; i++) {
            const int64_t w = ws[i], p_old = zs[i];
            nd[p_old]--;
            np_[p_old]--;
            nwp[p_old * W + w]--;
            const int64_t s = cand_indptr[w];
            const int64_t m = cand_indptr[w + 1] - s;
            if (m <= 0) {  /* impossible by corpus construction; keep
                              counts consistent rather than read OOB */
                nd[p_old]++; np_[p_old]++; nwp[p_old * W + w]++;
                continue;
            }
            double total = 0.0;
            for (int64_t k = 0; k < m; k++) {
                const int64_t cj = cand_data[s + k];
                const int64_t off = cj * W + w;
                const double a = av ? av[cj] : alpha;
                total = total
                    + ((double)nd[cj] + a) / denom
                      * ((double)nwp[off] + lam_beta[off])
                      / ((double)np_[cj] + slb[cj]);
                cdf[k] = total;
            }
            const double u = mt_double(&st) * total;
            /* bisect_right: first k with u < cdf[k] */
            int64_t lo = 0, hi = m;
            while (lo < hi) {
                const int64_t mid = (lo + hi) >> 1;
                if (u < cdf[mid]) hi = mid; else lo = mid + 1;
            }
            if (lo > m - 1) lo = m - 1;
            const int64_t p_new = cand_data[s + lo];
            zs[i] = p_new;
            nd[p_new]++;
            np_[p_new]++;
            nwp[p_new * W + w]++;
            if (p_new != p_old) {
                ch_w[n_changed] = w;
                ch_old[n_changed] = p_old;
                ch_new[n_changed] = p_new;
                n_changed++;
            }
        }
    }
    return n_changed;
}

/* M6 ontoPart chained sampler: one JOINT draw over the T x classes(w)
   grid per token (models/ontopart.py semantics; same IEEE op order as
   the NumPy oracle's _sample_token — term_c first, then
   (ntd+a)*(nct+b)/(nt+cb)*term_c accumulated t-major like
   np.cumsum(grid.ravel())). */
int64_t onto_sweep_batch(
    int64_t n_docs,
    const int64_t *doc_indptr,
    const int64_t *ws,
    int64_t *ts,
    int64_t *cs,
    const uint32_t *seeds,
    int64_t T,
    int64_t C,
    int64_t W,
    int64_t *nct,           /* T*C in/out */
    int64_t *nwc,           /* C*W in/out */
    int64_t *nt,            /* T in/out */
    int64_t *nc,            /* C in/out */
    const int64_t *cls_indptr,
    const int64_t *cls_data,
    double alpha,
    double beta,
    double zeta,
    double cb,              /* C*beta, precomputed like the oracle */
    double wz,              /* W*zeta */
    int64_t *ntd,           /* scratch, len T */
    double *termc,          /* scratch, len >= max classes per word */
    double *cdf,            /* scratch, len >= T * max classes */
    int64_t *ch_w, int64_t *ch_to, int64_t *ch_co,
    int64_t *ch_tn, int64_t *ch_cn
) {
    int64_t n_changed = 0;
    mt_t st;
    for (int64_t d = 0; d < n_docs; d++) {
        const int64_t t0 = doc_indptr[d], t1 = doc_indptr[d + 1];
        mt_seed(&st, seeds[d]);
        memset(ntd, 0, (size_t)T * sizeof(int64_t));
        for (int64_t i = t0; i < t1; i++) ntd[ts[i]]++;
        for (int64_t i = t0; i < t1; i++) {
            const int64_t w = ws[i], told = ts[i], cold = cs[i];
            ntd[told]--;
            nct[told * C + cold]--;
            nwc[cold * W + w]--;
            nt[told]--;
            nc[cold]--;
            const int64_t s = cls_indptr[w];
            const int64_t m = cls_indptr[w + 1] - s;
            if (m <= 0) {  /* impossible by construction; see sweep_batch */
                ntd[told]++; nct[told * C + cold]++; nwc[cold * W + w]++;
                nt[told]++; nc[cold]++;
                continue;
            }
            for (int64_t k = 0; k < m; k++) {
                const int64_t c = cls_data[s + k];
                termc[k] = ((double)nwc[c * W + w] + zeta)
                           / ((double)nc[c] + wz);
            }
            double total = 0.0;
            int64_t idx = 0;
            for (int64_t t = 0; t < T; t++) {
                const double a1 = (double)ntd[t] + alpha;
                const double den = (double)nt[t] + cb;
                const int64_t rowoff = t * C;
                for (int64_t k = 0; k < m; k++) {
                    total = total
                        + a1 * ((double)nct[rowoff + cls_data[s + k]] + beta)
                          / den * termc[k];
                    cdf[idx++] = total;
                }
            }
            const double u = mt_double(&st) * total;
            int64_t lo = 0, hi = idx;
            while (lo < hi) {
                const int64_t mid = (lo + hi) >> 1;
                if (u < cdf[mid]) hi = mid; else lo = mid + 1;
            }
            if (lo > idx - 1) lo = idx - 1;
            const int64_t tnew = lo / m;
            const int64_t cnew = cls_data[s + lo % m];
            ts[i] = tnew;
            cs[i] = cnew;
            ntd[tnew]++;
            nct[tnew * C + cnew]++;
            nwc[cnew * W + w]++;
            nt[tnew]++;
            nc[cnew]++;
            if (tnew != told || cnew != cold) {
                ch_w[n_changed] = w;
                ch_to[n_changed] = told;
                ch_co[n_changed] = cold;
                ch_tn[n_changed] = tnew;
                ch_cn[n_changed] = cnew;
                n_changed++;
            }
        }
    }
    return n_changed;
}
"""

_I64P = ctypes.POINTER(ctypes.c_int64)
_U32P = ctypes.POINTER(ctypes.c_uint32)
_F64P = ctypes.POINTER(ctypes.c_double)

_CACHE: dict[str, ctypes.CDLL | None] = {}


def _build_path() -> str:
    h = hashlib.sha256(C_SOURCE.encode()).hexdigest()[:16]
    try:
        user = getpass.getuser() or "u"
    except (KeyError, OSError):  # containers without a passwd entry
        user = f"uid{os.getuid()}" if hasattr(os, "getuid") else "u"
    return os.path.join(
        tempfile.gettempdir(), f"esum_native_{user}_{h}", "kernel.so"
    )


def load_native() -> ctypes.CDLL | None:
    """Compile (once per machine) and load the kernel; None if no
    compiler. Safe to call from executors — the .so is cached by source
    hash and the build commits via atomic rename."""
    if "lib" in _CACHE:
        return _CACHE["lib"]
    lib = None
    try:
        so = _build_path()
        d = os.path.dirname(so)
        os.makedirs(d, exist_ok=True)
        if not os.path.exists(so):
            src = os.path.join(d, f"kernel_{os.getpid()}.c")
            with open(src, "w") as f:
                f.write(C_SOURCE)
            tmp = so + f".tmp{os.getpid()}"
            subprocess.run(
                ["cc", "-O2", "-fPIC", "-shared", "-ffp-contract=off",
                 src, "-o", tmp],
                check=True, capture_output=True, timeout=120,
            )
            os.replace(tmp, so)
            os.unlink(src)
        lib = ctypes.CDLL(so)
        lib.sweep_batch.restype = ctypes.c_int64
        lib.sweep_batch.argtypes = [
            ctypes.c_int64, _I64P, _I64P, _I64P, _U32P,
            ctypes.c_int64, ctypes.c_int64, _I64P, _I64P,
            _I64P, _I64P, _F64P, _F64P, ctypes.c_double,
            _F64P, _F64P, _I64P, _F64P, _I64P, _I64P, _I64P,
        ]
        lib.onto_sweep_batch.restype = ctypes.c_int64
        lib.onto_sweep_batch.argtypes = [
            ctypes.c_int64, _I64P, _I64P, _I64P, _I64P, _U32P,
            ctypes.c_int64, ctypes.c_int64, ctypes.c_int64,
            _I64P, _I64P, _I64P, _I64P, _I64P, _I64P,
            ctypes.c_double, ctypes.c_double, ctypes.c_double,
            ctypes.c_double, ctypes.c_double,
            _I64P, _F64P, _F64P,
            _I64P, _I64P, _I64P, _I64P, _I64P,
        ]
    except Exception:  # noqa: BLE001 — no compiler / sandboxed tmp: fall back
        lib = None
    _CACHE["lib"] = lib
    return lib


def native_available() -> bool:
    return load_native() is not None


def cand_to_csr(
    cand: dict[int, np.ndarray], n_words: int
) -> tuple[np.ndarray, np.ndarray]:
    """Pack the word→candidate-predicates dict CSR-style (sweep-constant;
    built once driver-side)."""
    lens = np.zeros(n_words + 1, dtype=np.int64)
    for w, c in cand.items():
        lens[w + 1] = len(c)
    indptr = np.cumsum(lens, dtype=np.int64)
    data = np.empty(int(indptr[-1]), dtype=np.int64)
    for w, c in cand.items():
        data[indptr[w]:indptr[w + 1]] = c
    return indptr, data


def _ptr_i64(a: np.ndarray):
    return a.ctypes.data_as(_I64P)


def _ptr_f64(a: np.ndarray):
    return a.ctypes.data_as(_F64P)


def sweep_batch_native(
    lib: ctypes.CDLL,
    doc_indptr: np.ndarray,
    ws_flat: np.ndarray,
    zs_flat: np.ndarray,
    seeds: np.ndarray,
    P: int,
    W: int,
    nwp_flat: np.ndarray,
    np_arr: np.ndarray,
    csr_indptr: np.ndarray,
    csr_data: np.ndarray,
    lam_beta_flat: np.ndarray,
    slb: np.ndarray,
    alpha: float,
    av_mat: np.ndarray | None,
    a_sums: np.ndarray | None,
    nd_scratch: np.ndarray,
    cdf_scratch: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One batch sweep; mutates zs_flat / nwp_flat / np_arr in place.
    Returns (ch_w, ch_old, ch_new), the flat changed-token triples."""
    n_docs = len(doc_indptr) - 1
    n_tok = len(ws_flat)
    ch_w = np.empty(n_tok, dtype=np.int64)
    ch_old = np.empty(n_tok, dtype=np.int64)
    ch_new = np.empty(n_tok, dtype=np.int64)
    n = lib.sweep_batch(
        n_docs, _ptr_i64(doc_indptr), _ptr_i64(ws_flat), _ptr_i64(zs_flat),
        seeds.ctypes.data_as(_U32P), P, W, _ptr_i64(nwp_flat),
        _ptr_i64(np_arr), _ptr_i64(csr_indptr), _ptr_i64(csr_data),
        _ptr_f64(lam_beta_flat), _ptr_f64(slb), alpha,
        _ptr_f64(av_mat) if av_mat is not None else None,
        _ptr_f64(a_sums) if a_sums is not None else None,
        _ptr_i64(nd_scratch), _ptr_f64(cdf_scratch),
        _ptr_i64(ch_w), _ptr_i64(ch_old), _ptr_i64(ch_new),
    )
    return ch_w[:n], ch_old[:n], ch_new[:n]


def onto_sweep_batch_native(
    lib: ctypes.CDLL,
    doc_indptr: np.ndarray,
    ws_flat: np.ndarray,
    ts_flat: np.ndarray,
    cs_flat: np.ndarray,
    seeds: np.ndarray,
    T: int,
    C: int,
    W: int,
    nct_flat: np.ndarray,
    nwc_flat: np.ndarray,
    nt: np.ndarray,
    nc: np.ndarray,
    cls_indptr: np.ndarray,
    cls_data: np.ndarray,
    alpha: float,
    beta: float,
    zeta: float,
    ntd_scratch: np.ndarray,
    termc_scratch: np.ndarray,
    cdf_scratch: np.ndarray,
) -> tuple[np.ndarray, ...]:
    """One M6 batch sweep; mutates ts/cs/nct/nwc/nt/nc in place. Returns
    the flat changed-token columns (ch_w, ch_to, ch_co, ch_tn, ch_cn)."""
    n_docs = len(doc_indptr) - 1
    n_tok = len(ws_flat)
    outs = [np.empty(n_tok, dtype=np.int64) for _ in range(5)]
    n = lib.onto_sweep_batch(
        n_docs, _ptr_i64(doc_indptr), _ptr_i64(ws_flat), _ptr_i64(ts_flat),
        _ptr_i64(cs_flat), seeds.ctypes.data_as(_U32P), T, C, W,
        _ptr_i64(nct_flat), _ptr_i64(nwc_flat), _ptr_i64(nt), _ptr_i64(nc),
        _ptr_i64(cls_indptr), _ptr_i64(cls_data),
        alpha, beta, zeta, C * beta, W * zeta,
        _ptr_i64(ntd_scratch), _ptr_f64(termc_scratch),
        _ptr_f64(cdf_scratch),
        *(_ptr_i64(o) for o in outs),
    )
    return tuple(o[:n] for o in outs)
