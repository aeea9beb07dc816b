"""Graph operators — the canonicalization/linking algorithms of SURVEY §2.9.

Corpus-scale algorithms are iterative DataFrame jobs (gather-scatter per
step: join scores to edges, groupBy destination). Per-document graphs
(~10²–10³ vertices) run partition-local inside ``applyInPandas`` — no
driver involvement, no per-row Python.

Reference analogs (file:line under /root/reference/TextProcessing/src/cs/uga/edu/):
  - connected components  (G4): dicgenerator/PatternMatchingMachine.java:5590-5612
  - weighted HITS         (G5): dicgenerator/PatternMatchingMachine.java:5405-5571
  - TextRank random walk  (G7): dicgenerator/PatternMatchingMachine.java:118-243
  - category/taxonomy closure (O3): dicgenerator/CategoryProcessor.java:288-431

Determinism: every loop runs a FIXED iteration count (a parameter), so the
result is a pure function of (edges, n_iter) — reproducible across engines
and partitionings, and expressible as an unrolled SQL oracle.

Scale: per iteration one shuffle (groupBy dst). Scores/labels stay
DataFrames — nothing collects to the driver. Every round cuts its lineage
through the engine's one checkpoint rule, ``session.checkpoint``: a
reliable ``checkpoint()`` when the session has a checkpoint dir (survives
executor loss — set ``spark.sparkContext.setCheckpointDir`` to a DFS path
on a real cluster), else an executor-local ``localCheckpoint`` (fine
single-box; a lost executor's blocks cannot be recomputed, so the job
fails).

Checkpoint disk growth: each loop round writes a NEW reliable checkpoint;
Spark only deletes superseded ones when
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` (set by
session.get_spark; default false). A 10-round job otherwise leaves
O(n_iter × dataset) in the checkpoint dir until the app exits.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..session import checkpoint


def _symmetric(edges: DataFrame) -> DataFrame:
    """(src, dst) → undirected distinct edge list (both directions)."""
    e = edges.select("src", "dst")
    return e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def connected_components(edges: DataFrame, n_iter: int = 20) -> DataFrame:
    """Min-label propagation CC: (node, component) with component =
    min node id reachable within ``n_iter`` hops (= the true component
    once n_iter ≥ graph diameter).

    One shuffle per round; labels are checkpointed each round
    (``session.checkpoint``) so the lineage and task closure stay bounded
    on long runs.
    """
    sym = _symmetric(edges).persist()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    labels = nodes.withColumn("component", F.col("node"))
    for _ in range(n_iter):
        nbr_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("component").alias("nbr_comp"))
        )
        new_labels = (
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    "component", F.coalesce("nbr_comp", F.col("component"))
                ).alias("component"),
            )
        )
        # labels feeds both the neighbor gather and the reassembly; eager
        # materialization per round keeps the plan linear in n_iter
        labels = checkpoint(new_labels)
    # labels is checkpointed — the cached edge list is no longer
    # referenced by the returned plan
    sym.unpersist()
    return labels


def connected_components_star(
    edges: DataFrame,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star/small-star CC (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — public) — the
    corpus-scale path: O(log n) rounds instead of min-label propagation's
    O(diameter) (``connected_components``, kept for per-doc graphs and
    the unrolled-SQL oracle).

    Per round: large-star hangs every strictly-larger neighbor of each
    node onto its neighborhood minimum, small-star re-points every
    smaller neighbor (and the center) at the minimum of the oriented
    star. Both are one groupBy + one join; edges only ever shrink toward
    (node → component-min) pointers, so a long chain collapses
    geometrically. Convergence = edge set unchanged (exact exceptAll
    probe, limit-1 so it short-circuits). Same output contract as
    ``connected_components``: (node, component = min reachable node id),
    one row per endpoint of the input edge list.

    ``stats``, when given, receives {"rounds": n} — how many star rounds
    ran before the fixpoint (the long-chain test asserts this is
    logarithmic, not linear).
    """
    sym_all = _symmetric(edges)
    # nodes from the UNfiltered list so self-loop-only nodes still get a
    # (node, node) label — same contract as connected_components
    nodes = sym_all.select(F.col("src").alias("node")).distinct().persist()
    nodes.count()  # materialize before the loop rewrites `e`
    sym0 = sym_all.filter(F.col("src") != F.col("dst")).persist()
    e = sym0
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        sym_e = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()
        # large-star: m(u) = min(Γ(u) ∪ {u}); emit (v, m) for v ∈ Γ(u), v > u
        mn = sym_e.groupBy("src").agg(
            F.min(F.least(F.col("src"), F.col("dst"))).alias("m")
        )
        e_l = (
            sym_e.filter(F.col("dst") > F.col("src"))
            .join(mn, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        # small-star on the oriented (src > dst) set: re-point every
        # smaller neighbor and the center at the star's minimum
        mn2 = e_l.groupBy("src").agg(F.min("dst").alias("m"))
        e_s = (
            e_l.join(mn2, "src")
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(mn2.select("src", F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        e_s = checkpoint(e_s)
        changed = (
            e_s.exceptAll(e).union(e.exceptAll(e_s)).limit(1).count()
            if rounds > 1
            else 1
        )
        e = e_s
        if changed == 0:
            break
    if stats is not None:
        stats["rounds"] = rounds
    # at the fixpoint every edge is (node → component-min); roots and
    # isolated endpoints label themselves
    lab = e.groupBy("src").agg(F.min("dst").alias("component"))
    labels = (
        nodes.join(lab, nodes.node == lab.src, "left")
        .select(
            "node", F.coalesce("component", F.col("node")).alias("component")
        )
    )
    labels = checkpoint(labels)
    sym0.unpersist()
    nodes.unpersist()
    return labels


def pagerank(
    edges: DataFrame,
    n_iter: int = 10,
    damping: float = 0.85,
    round_to: int = 6,
) -> DataFrame:
    """Uniform-start PageRank on a directed (src, dst) edge list.

    rank_0 = 1/N;  rank_{t+1}(v) = (1−d)/N + d·Σ_{u→v} rank_t(u)/outdeg(u).
    Dangling mass is NOT redistributed (matches the reference's simple
    random-walk loop, PatternMatchingMachine.java:118-243, d=0.85).
    Returns (node, rank) rounded to ``round_to``.
    """
    e = edges.select("src", "dst").distinct().persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    # contribution edges with 1/outdeg weight — static across iterations
    contrib_e = e.join(outdeg, "src").select(
        "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w")
    ).persist()

    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    base = (1.0 - damping) / n
    for i in range(n_iter):
        gathered = (
            contrib_e.join(ranks, contrib_e.src == ranks.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("w")).alias("in_mass"))
        )
        ranks = nodes.join(gathered, "node", "left").select(
            "node",
            (F.lit(base) + F.lit(damping) * F.coalesce("in_mass", F.lit(0.0))).alias(
                "rank"
            ),
        )
        ranks = checkpoint(ranks)
    # final ranks are checkpoint-materialized; release the loop caches
    for cached in (contrib_e, nodes, e):
        cached.unpersist()
    return ranks.select("node", F.round("rank", round_to).alias("rank"))


def hits(
    edges: DataFrame,
    n_iter: int = 10,
    weight_col: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Weighted HITS (G5): hub/authority with L2 normalization per step
    (the reference normalizes each iteration,
    PatternMatchingMachine.java:5405-5571). Returns (node, hub, auth).
    """
    cols = ["src", "dst"] + ([weight_col] if weight_col else [])
    e = edges.select(*cols)
    if not weight_col:
        e = e.withColumn("w", F.lit(1.0))
        weight_col = "w"
    e = e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    scores = nodes.select("node", F.lit(1.0).alias("hub"), F.lit(1.0).alias("auth"))
    for i in range(n_iter):
        # auth(v) = Σ_{u→v} w·hub(u), then L2 normalize
        auth = (
            e.join(scores.select("node", "hub"), e.src == F.col("node"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col(weight_col) * F.col("hub")).alias("auth_raw"))
        )
        # each normalized frame is referenced 2-3× downstream (l2 agg +
        # join + scores assembly); without an eager materialization every
        # reference clones the whole prior-iteration subtree and the plan
        # grows EXPONENTIALLY in n_iter (observed: 23k stages at 10 iters)
        auth_n = auth.crossJoin(
            auth.agg(F.sqrt(F.sum(F.col("auth_raw") ** 2)).alias("_l2"))
        ).select(
            "node", (F.col("auth_raw") / F.col("_l2")).alias("auth")
        )
        auth_n = checkpoint(auth_n)
        # hub(u) = Σ_{u→v} w·auth(v), then L2 normalize
        hub = (
            e.join(auth_n, e.dst == F.col("node"))
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum(F.col(weight_col) * F.col("auth")).alias("hub_raw"))
        )
        hub_n = hub.crossJoin(
            hub.agg(F.sqrt(F.sum(F.col("hub_raw") ** 2)).alias("_l2"))
        ).select(
            "node", (F.col("hub_raw") / F.col("_l2")).alias("hub")
        )
        hub_n = checkpoint(hub_n)
        scores = (
            nodes.join(hub_n, "node", "left")
            .join(auth_n, "node", "left")
            .select(
                "node",
                F.coalesce("hub", F.lit(0.0)).alias("hub"),
                F.coalesce("auth", F.lit(0.0)).alias("auth"),
            )
        )
    # materialize the (node-sized) result so the loop caches can be freed
    # and downstream consumers (top-k legs re-reading it twice) stay cheap
    out = checkpoint(scores.select(
        "node", F.round("hub", round_to).alias("hub"),
        F.round("auth", round_to).alias("auth"),
    ))
    nodes.unpersist()
    e.unpersist()
    return out


def ancestors(
    child_parent: DataFrame,
    max_depth: int = 20,
) -> DataFrame:
    """Transitive closure over a (child, parent) DAG (O3): all (node,
    ancestor, depth) pairs with the MINIMUM hop count, cycle-safe (a node
    is never its own ancestor; revisits keep the shorter depth).

    Iterative frontier self-join — #rounds = taxonomy depth (the reference
    caps it via `categoryhierarchyLevel`, PatternMatchingMachine.java:2417).
    """
    base = checkpoint(
        child_parent.select(
            F.col("child").alias("node"), F.col("parent").alias("ancestor")
        ).distinct().withColumn("depth", F.lit(1)))
    closure = base
    frontier = base
    step = checkpoint(
        child_parent.select(
            F.col("child").alias("_c"), F.col("parent").alias("_p")
        ).distinct())
    for _ in range(max_depth - 1):
        nxt = (
            frontier.join(step, frontier.ancestor == step._c)
            .select("node", F.col("_p").alias("ancestor"),
                    (F.col("depth") + 1).alias("depth"))
            .filter(F.col("node") != F.col("ancestor"))
            # multi-parent DAGs (diamonds) reach the same (node, ancestor)
            # via several equal-length paths IN THE SAME round — the
            # left_anti below only removes pairs from PRIOR rounds, so
            # without this dedup duplicates enter the closure and multiply
            # through later frontiers. All rows this round share one depth,
            # so dropDuplicates keeps the (unique) minimum.
            .dropDuplicates(["node", "ancestor"])
        )
        # keep only pairs not already reached (shorter depth wins);
        # eager checkpoint: the frontier feeds BOTH the emptiness probe
        # and two downstream references — lazy persist would re-derive
        # the whole closure chain every round (observed 332 s → ~30 s)
        nxt = checkpoint(
            nxt.join(closure.select("node", "ancestor"), ["node", "ancestor"],
                     "left_anti"))
        if len(nxt.take(1)) == 0:
            break
        closure = checkpoint(closure.union(nxt))
        frontier = nxt
    return closure


def category_scores(
    closure: DataFrame,      # node, ancestor, depth  (from ancestors())
    alpha: float = 0.6,
    decay: float = 3.0,
    top_k: int = 30,
) -> DataFrame:
    """A7+A8+W4 composition: per ancestor 'category', coverage = #descendant
    nodes, score = Σ decay^-depth over paths (the BFS path-product fold of
    PatternMatchingMachine.java:4771-4795 with uniform out-degree ``decay``),
    blended final = α·score + (1−α)·coverage (:2451-2457), ranked top-k
    (:2462-2478). Returns (category, coverage, score, final, rnk)."""
    agg = closure.groupBy(F.col("ancestor").alias("category")).agg(
        F.count("*").cast("long").alias("coverage"),
        F.round(F.sum(F.pow(F.lit(decay), -F.col("depth"))), 6).alias("score"),
    )
    blended = agg.withColumn(
        "final",
        F.round(alpha * F.col("score") + (1 - alpha) * F.col("coverage"), 6),
    )
    # TakeOrderedAndProject top-k: distributed partial sort + driver merge,
    # not a single-task global window; rnk re-derived over the k rows
    top = blended.orderBy(F.desc("final"), F.asc("category")).limit(top_k)
    w = Window.orderBy(F.desc("final"), F.asc("category"))
    return top.withColumn("rnk", F.row_number().over(w))


TEXTRANK_SCHEMA = "doc_id long, word string, score double, rnk int"


def textrank_words(
    docs: DataFrame,
    top_k: int = 10,
    n_iter: int = 20,
    damping: float = 0.85,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document TextRank (G7): co-occurrence graph of adjacent tokens
    (bidirectional), PageRank d=0.85, top-k words per doc.

    The reference runs this per file on the driver
    (PatternMatchingMachine.java:118-243, 100 iters, tol 1e-4) — here each
    document's graph is built and ranked inside a grouped pandas UDF with
    dense NumPy power iteration (docs are independent → embarrassingly
    parallel). Implements the *intended* top-k (the reference's loop
    indexes vertices 0..9 instead of the sorted list — :187-199 — a bug we
    do not copy; SURVEY §7).
    """
    from ..functions.automaton import tokenize

    def rank_one(key: tuple, batch: pd.DataFrame) -> pd.DataFrame:
        out = []
        for did, txt in zip(batch[id_col], batch[text_col]):
            toks = tokenize(txt)
            vocab = {}
            for t in toks:
                if t not in vocab:
                    vocab[t] = len(vocab)
            nv = len(vocab)
            if nv == 0:
                continue
            adj = np.zeros((nv, nv))
            for a, b in zip(toks, toks[1:]):
                ia, ib = vocab[a], vocab[b]
                if ia != ib:
                    adj[ia, ib] = 1.0
                    adj[ib, ia] = 1.0
            deg = adj.sum(axis=1)
            deg[deg == 0] = 1.0
            m = adj / deg[:, None]          # row-stochastic
            r = np.full(nv, 1.0 / nv)
            for _ in range(n_iter):
                r = (1 - damping) / nv + damping * (m.T @ r)
            words = list(vocab)
            order = sorted(range(nv), key=lambda i: (-r[i], words[i]))[:top_k]
            for rnk, i in enumerate(order, 1):
                out.append((did, words[i], round(float(r[i]), 6), rnk))
        return pd.DataFrame(out, columns=["doc_id", "word", "score", "rnk"])

    return (
        docs.select(id_col, text_col)
        .groupBy(id_col)
        .applyInPandas(rank_one, TEXTRANK_SCHEMA)
    )


PER_DOC_CORE_SCHEMA = (
    "doc_id long, node long, hub double, auth double, closeness double,"
    " in_largest_cc boolean, is_core boolean"
)


def per_doc_core_entities(
    edges: DataFrame,        # doc_id, src, dst (per-document candidate graphs)
    n_iter: int = 10,
    k_core: int = 5,
) -> DataFrame:
    """EP3's per-document graph stage (SURVEY §3): for each doc's candidate
    entity graph — largest connected component (G4,
    PatternMatchingMachine.java:5590-5612,2254-2264), HITS on it (G5,
    :5405-5571 re-run on the pruned subgraph :2304-2321), closeness
    centrality over it (G6, :5371-5395), core set = top-k by auth ∪ top-k
    by closeness (W3, :2363-2404).

    Per-doc graphs are ~10²–10³ vertices, so each runs dense-NumPy inside
    ``applyInPandas`` — partition-local, embarrassingly parallel across
    docs, zero driver involvement (the reference does all of this
    sequentially on one thread per file).
    """

    def one_doc(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        (did,) = key
        verts = sorted(set(pdf["src"]) | set(pdf["dst"]))
        idx = {v: i for i, v in enumerate(verts)}
        nv = len(verts)
        adj = np.zeros((nv, nv), dtype=bool)
        for s, d in zip(pdf["src"], pdf["dst"]):
            adj[idx[s], idx[d]] = True
        und = adj | adj.T
        # --- connected components (BFS) → largest ---
        comp = -np.ones(nv, dtype=np.int64)
        c = 0
        for v in range(nv):
            if comp[v] >= 0:
                continue
            stack = [v]
            comp[v] = c
            while stack:
                u = stack.pop()
                for wv in np.nonzero(und[u])[0]:
                    if comp[wv] < 0:
                        comp[wv] = c
                        stack.append(wv)
            c += 1
        sizes = np.bincount(comp)
        largest = int(np.argmax(sizes))   # ties → lowest component id
        in_cc = comp == largest
        # --- HITS on the largest CC ---
        sub = adj & in_cc[:, None] & in_cc[None, :]
        hub = np.ones(nv) * in_cc
        auth = np.zeros(nv)
        for _ in range(n_iter):
            auth = sub.T.astype(float) @ hub
            n_ = np.linalg.norm(auth)
            auth = auth / n_ if n_ > 0 else auth
            hub = sub.astype(float) @ auth
            n_ = np.linalg.norm(hub)
            hub = hub / n_ if n_ > 0 else hub
        # --- closeness over the largest CC (BFS hop distances) ---
        closeness = np.zeros(nv)
        cc_nodes = np.nonzero(in_cc)[0]
        sub_und = und & in_cc[:, None] & in_cc[None, :]
        for v in cc_nodes:
            dist = -np.ones(nv)
            dist[v] = 0
            frontier = [v]
            d = 0
            while frontier:
                d += 1
                nxt = []
                for u in frontier:
                    for wv in np.nonzero(sub_und[u])[0]:
                        if dist[wv] < 0:
                            dist[wv] = d
                            nxt.append(wv)
                frontier = nxt
            tot = dist[dist > 0].sum()
            closeness[v] = 1.0 / tot if tot > 0 else 0.0
        # --- core set: top-k auth ∪ top-k closeness (within largest CC) ---
        def topk(score):
            order = sorted(cc_nodes, key=lambda i: (-score[i], verts[i]))
            return set(order[:k_core])

        core = topk(auth) | topk(closeness)
        return pd.DataFrame({
            "doc_id": np.full(nv, did, dtype=np.int64),
            "node": np.asarray(verts, dtype=np.int64),
            "hub": np.round(hub, 6),
            "auth": np.round(auth, 6),
            "closeness": np.round(closeness, 6),
            "in_largest_cc": in_cc,
            "is_core": np.array([i in core for i in range(nv)]),
        })

    return edges.groupBy("doc_id").applyInPandas(one_doc, PER_DOC_CORE_SCHEMA)


def top_k_core_nodes(
    scores: DataFrame,
    k_auth: int = 5,
    k_hub: int = 5,
) -> DataFrame:
    """W3: union of top-k authoritative and top-k hub nodes — the
    reference's 'core entity set' (PatternMatchingMachine.java:2363-2385).
    Returns (node, hub, auth) deduplicated.

    Both top-k legs are orderBy().limit() — TakeOrderedAndProject, a
    distributed partial top-k — not global row_number windows, so no
    single task ever sees the full score table."""
    top_a = scores.orderBy(F.desc("auth"), F.asc("node")).limit(k_auth)
    top_h = scores.orderBy(F.desc("hub"), F.asc("node")).limit(k_hub)
    return top_a.union(top_h).dropDuplicates(["node"])
