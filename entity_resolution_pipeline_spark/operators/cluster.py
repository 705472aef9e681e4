"""Stages 5-6 — edges and transitive clustering.

Replaces the reference's in-memory networkx graph
(/root/reference/src/clustering.py:61, :220-369) with DataFrame-native
operators:

- G1 edge construction: scored pairs with confidence >= min_edge_weight.
- G2 one-hop transitivity (edge self-join, weight product) — kept for
  operator parity; connected components subsumes it, so the pipeline does
  not call it (reference note at SURVEY.md §2.8 G2).
- G3 connected components via alternating large-star/small-star hash-join
  passes (Kiveris et al., "Connected Components in MapReduce and Beyond") —
  O(log n) rounds, each round two shuffles; lineage truncated per round with
  localCheckpoint so the plan stays bounded.
- G5 min-size filter and oversized-cluster breakup (drop weak edges, re-run
  CC on the oversized component's subgraph).

Node ids are arbitrary orderable strings (urls). Cluster id = min url in the
component (stable across runs and partitionings).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812


def build_edges(scored_pairs: DataFrame, min_edge_weight: float = 0.5,
                decision_threshold: float = 0.9) -> DataFrame:
    """G1: (src, dst, weight) for predicted matches.

    prediction = confidence >= decision_threshold (0.90); edges additionally
    require weight >= min_edge_weight (0.5) per config.yml:129,135.
    """
    return (
        scored_pairs.where(
            (F.col("confidence") >= decision_threshold)
            & (F.col("confidence") >= min_edge_weight)
        )
        .select(
            F.col("url1").alias("src"),
            F.col("url2").alias("dst"),
            F.col("confidence").alias("weight"),
        )
    )


def transitivity_one_hop(edges: DataFrame, threshold: float = 0.5) -> DataFrame:
    """G2: connect neighbors-of-neighbors with weight = product, one pass."""
    sym = edges.select("src", "dst", "weight").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    a = sym.alias("a")
    b = sym.alias("b")
    inferred = (
        a.join(b, F.col("a.dst") == F.col("b.src"))
        .where(F.col("a.src") < F.col("b.dst"))
        .select(
            F.col("a.src").alias("src"),
            F.col("b.dst").alias("dst"),
            (F.col("a.weight") * F.col("b.weight")).alias("weight"),
        )
        .where(F.col("weight") >= threshold)
    )
    return (
        edges.unionByName(inferred)
        .groupBy("src", "dst")
        .agg(F.max("weight").alias("weight"))
    )


def _canonical(edges: DataFrame) -> DataFrame:
    """Orient (big, small), drop self-loops, dedup."""
    return (
        edges.select(
            F.greatest("src", "dst").alias("src"),
            F.least("src", "dst").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


def _edges_signature(e: DataFrame) -> tuple:
    """Cheap order-insensitive fixpoint probe: (count, sum of edge hashes)."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (row["n"], row["h"])


def _driver_union_find(spark, pdf, node_type: str) -> DataFrame:
    """Union-find on a collected (bounded) pandas edge frame; component =
    min node.

    Value-identical to the distributed fixpoint (min-label components).
    The caller collects the edges as ONE Arrow frame (``toPandas``) and the
    labels go back the same way — the row-based ``collect()`` /
    list-of-tuples ``createDataFrame`` pair serialized every row through
    py4j twice and dominated the fast path's wall at a few 100k edges.
    Edge direction and duplicate edges do not change the labels.
    """
    import numpy as np
    import pandas as pd

    # Vectorized min-label pointer jumping (replaces the per-edge Python
    # union-find loop — ~10x on a few-100k-edge frame): np.unique maps
    # node ids to their SORTED index, so index order == id order and the
    # minimum index of a component is its minimum id. Each outer pass
    # min-propagates across edges (np.minimum.at) then collapses label
    # chains (lbl = lbl[lbl]); converges in O(log diameter) passes to
    # exactly the min-node component labels the scalar union-find
    # produced. Works for numeric AND string ids (np.unique sorts both;
    # string "min" is the same lexicographic order Python compared).
    ids = np.concatenate([pdf["src"].to_numpy(), pdf["dst"].to_numpy()])
    uniq, inv = np.unique(ids, return_inverse=True)
    m = len(pdf)
    ai, bi = inv[:m], inv[m:]
    lbl = np.arange(len(uniq))
    while True:
        low = np.minimum(lbl[ai], lbl[bi])
        before = lbl.copy()
        np.minimum.at(lbl, ai, low)
        np.minimum.at(lbl, bi, low)
        while True:
            nl = lbl[lbl]
            if np.array_equal(nl, lbl):
                break
            lbl = nl
        if np.array_equal(lbl, before):
            break
    out = pd.DataFrame({"node": uniq, "component": uniq[lbl]})
    return spark.createDataFrame(out, f"node {node_type}, component {node_type}")


def connected_components(
    edges: DataFrame,
    max_iterations: int = 50,
    driver_threshold: int = 500_000,
) -> DataFrame:
    """G3: (node, component) with component = min node id in the component.

    Alternating large-star / small-star over hash joins; converges in
    O(log n) rounds. Each round materializes via localCheckpoint (lineage
    truncation — SURVEY.md §7.4 risk 5).

    Two Spark actions pick the path: an eager localCheckpoint of the
    self-loop-free edges (the edge plan runs once, whichever path follows)
    and one Arrow collect of at most ``driver_threshold + 1`` rows. If it
    holds at most ``driver_threshold`` rows, a driver-side union-find
    labels it: near-dup graphs are routinely tiny, and each distributed
    round costs 2+ jobs (star joins + checkpoint + fixpoint probe). The
    collect is ~8 MB of ids at the default — measured 2x faster than the
    distributed rounds even at the full 500k. ``driver_threshold=0``
    forces the distributed path on any non-empty graph.

    Neither path needs canonical input: the union-find is undirected and
    ignores duplicates, and the first large-star round symmetrizes and
    dedups. Nodes that only carry self-loops are omitted by both paths.
    """
    spark = edges.sparkSession
    t = edges.schema["src"].dataType.simpleString()
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .localCheckpoint(eager=True)
    )
    pdf = e.limit(driver_threshold + 1).toPandas()
    if len(pdf) <= driver_threshold:
        return _driver_union_find(spark, pdf, t)

    prev_sig = None
    for _ in range(max_iterations):
        # --- large-star: for every node u (over symmetric neighbors),
        # attach strictly-larger neighbors to m = min(N(u) ∪ {u}).
        sym = e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        mins = sym.groupBy("src").agg(F.least(F.min("dst"), F.first("src")).alias("m"))
        large = (
            sym.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )

        # --- small-star: edges point (big -> small); attach all small
        # neighbors (and u itself) to the minimum neighbor.
        g = large  # already oriented src > dst
        mins2 = g.groupBy("src").agg(F.min("dst").alias("m"))
        small = (
            g.join(mins2, "src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(mins2.select("src", F.col("m").alias("dst")))
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        e_new = small.localCheckpoint(eager=True)

        sig = _edges_signature(e_new)
        e_prev, e = e, e_new
        if sig == prev_sig:
            # the (count, hash-sum) signature is a cheap fixpoint probe; a
            # signature collision between successive DIFFERENT edge sets
            # would terminate early, so confirm exactly before breaking.
            # Counts already match (part of the signature), so one-direction
            # exceptAll proves multiset equality. Runs at most once per
            # convergence — O(one extra join) total, not per round.
            if e_new.exceptAll(e_prev).isEmpty():
                break
        prev_sig = sig

    # at fixpoint every edge is (node -> component root)
    roots = e.select(F.col("dst").alias("node"), F.col("dst").alias("component")).distinct()
    members = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    return members.unionByName(roots).distinct()


def assign_clusters(edges: DataFrame, all_nodes: DataFrame) -> DataFrame:
    """(entity_id, cluster_id): CC labels, singletons = their own cluster.

    ``all_nodes`` must have a single column ``node``. The components are
    computed eagerly (see connected_components); the join is lazy.
    """
    cc = connected_components(edges)
    return (
        all_nodes.join(cc, "node", "left")
        .select(
            F.col("node").alias("entity_id"),
            F.coalesce(F.col("component"), F.col("node")).alias("cluster_id"),
        )
    )


def cluster_size_stats(clusters: DataFrame) -> DataFrame:
    """A10: size histogram stats over clusters — full reference parity
    (/root/reference/src/clustering.py:689-729): min/max/mean/median/std,
    interpolated size quantiles 10/25/75/90, and the six size-group buckets
    (1, 2-5, 6-10, 11-20, 21-50, 51+) used for reporting."""
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))

    def bucket(lo, hi=None):
        cond = (F.col("size") >= lo) if hi is None else F.col("size").between(lo, hi)
        return F.sum(cond.cast("long"))

    return sizes.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.min("size").alias("min_size"),
        F.max("size").alias("max_size"),
        F.avg("size").alias("mean_size"),
        F.expr("percentile(size, 0.5)").alias("median_size"),
        F.stddev_pop("size").alias("std_size"),
        F.expr("percentile(size, 0.1)").alias("size_q10"),
        F.expr("percentile(size, 0.25)").alias("size_q25"),
        F.expr("percentile(size, 0.75)").alias("size_q75"),
        F.expr("percentile(size, 0.9)").alias("size_q90"),
        bucket(1, 1).alias("g_1"),
        bucket(2, 5).alias("g_2_5"),
        bucket(6, 10).alias("g_6_10"),
        bucket(11, 20).alias("g_11_20"),
        bucket(21, 50).alias("g_21_50"),
        bucket(51).alias("g_51_plus"),
    )


def breakup_oversized(
    edges: DataFrame,
    clusters: DataFrame,
    max_cluster_size: int = 1000,
    weight_floor: float = 0.75,
) -> DataFrame:
    """G5: re-cluster oversized components keeping only strong edges."""
    sizes = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("size"))
    big = sizes.where(F.col("size") > max_cluster_size).select("cluster_id")
    if big.isEmpty():
        return clusters
    # no broadcast hints: each oversized cluster exceeds max_cluster_size
    # MEMBERS by definition, so big_nodes is unbounded — force-broadcasting
    # it is the driver-OOM pattern this round removed from blocking; AQE
    # still broadcasts when the measured sets are actually small
    big_nodes = clusters.join(big, "cluster_id").select(
        F.col("entity_id").alias("node")
    )
    sub_edges = (
        edges.join(big_nodes, edges.src == big_nodes.node)
        .drop("node")
        .where(F.col("weight") >= weight_floor)
    )
    re_clustered = assign_clusters(sub_edges, big_nodes)
    keep = clusters.join(big, "cluster_id", "left_anti")
    return keep.unionByName(re_clustered.select("entity_id", "cluster_id"))


def label_propagation(
    edges: DataFrame,
    max_iterations: int = 20,
) -> DataFrame:
    """G4 alternate (clustering.py:371-535): synchronous min-label
    propagation. Converges in O(diameter) rounds (use connected_components
    for production; kept for algorithm parity). Returns (node, component).
    """
    sym = _canonical(edges)
    sym = sym.unionByName(sym.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iterations):
        msgs = (
            sym.join(labels, sym.src == labels.node)
            .select(F.col("dst").alias("node"), "component")
            .unionByName(labels)
        )
        new_labels = msgs.groupBy("node").agg(F.min("component").alias("component"))
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


def hierarchical_clusters(
    edges: DataFrame,
    threshold: float = 0.5,
    max_component: int = 500,
) -> DataFrame:
    """G4 alternate (clustering.py:443-526): average-linkage agglomerative
    clustering, cut at distance 1-threshold.

    Spark plan mirrors the reference's own decomposition: connected
    components first, then each component clustered INDEPENDENTLY — an
    applyInPandas per component (numpy Lance-Williams average linkage;
    scipy is unavailable here). Components of <= 2 nodes pass through;
    components larger than ``max_component`` are kept whole (the reference
    falls back similarly at 1000 nodes). Returns (node, cluster_id) with
    cluster_id = min node of the subcluster.
    """
    import pandas as pd

    cc = connected_components(edges)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    cc = cc.join(sizes, "component")

    passthrough = cc.where(
        (F.col("csize") <= 2) | (F.col("csize") > max_component)
    ).select("node", F.col("component").alias("cluster_id"))

    todo = cc.where((F.col("csize") > 2) & (F.col("csize") <= max_component))
    sym = edges.select("src", "dst", "weight")
    comp_edges = (
        sym.join(todo.select(F.col("node").alias("src"), "component"), "src")
        .select("component", "src", "dst", "weight")
    )

    cut = 1.0 - threshold

    def run_fixed(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        nodes = sorted(set(pdf["src"]) | set(pdf["dst"]))
        n = len(nodes)
        idx = {u: i for i, u in enumerate(nodes)}
        D = np.ones((n, n))
        np.fill_diagonal(D, 0.0)
        for s, d, w in zip(pdf["src"], pdf["dst"], pdf["weight"]):
            i, j = idx[s], idx[d]
            D[i, j] = D[j, i] = 1.0 - float(w)
        size = np.ones(n)
        active = np.ones(n, dtype=bool)
        labels = np.arange(n)
        while active.sum() > 1:
            M = D.copy()
            M[~active, :] = np.inf
            M[:, ~active] = np.inf
            np.fill_diagonal(M, np.inf)
            i, j = np.unravel_index(np.argmin(M), M.shape)
            if M[i, j] > cut:
                break
            if j < i:
                i, j = j, i
            si, sj = size[i], size[j]
            D[i, :] = (si * D[i, :] + sj * D[j, :]) / (si + sj)
            D[:, i] = D[i, :]
            D[i, i] = 0.0
            size[i] = si + sj
            active[j] = False
            labels[labels == j] = i
        reps = {}
        for t in range(n):
            reps.setdefault(labels[t], []).append(nodes[t])
        out_nodes, out_cids = [], []
        for members in reps.values():
            cid = min(members)
            for u in members:
                out_nodes.append(u)
                out_cids.append(cid)
        return pd.DataFrame({"node": out_nodes, "cluster_id": out_cids})

    clustered = comp_edges.groupBy("component").applyInPandas(
        run_fixed, schema="node string, cluster_id string"
    )
    return passthrough.unionByName(clustered)


def louvain_clusters(edges: DataFrame, max_iterations: int = 10) -> DataFrame:
    """G4 alternate (clustering.py:371-413): community detection by
    modularity — a synchronous, single-level distributed Louvain variant.

    Each round, every node moves to the neighbor community with the best
    modularity gain dQ ~ k_in(c) - k_i * tot(c\\i) / 2m (evaluated for all
    neighbor communities plus staying put), ties -> smallest community id;
    rounds repeat until no node wants to move or ``max_iterations``.
    Synchronous moves make this
    an approximation of sequential Louvain (documented); to break the
    two-node oscillations synchronous updates are prone to (a pair that
    each jump to the other's community every round), only about half the
    nodes may move in any one round, selected by bit ``round % 32`` of
    ``xxhash64(node)`` — a DIFFERENT bit each round, so any flip-flopping
    pair lands in different mover sets within a few rounds and resolves
    sequentially. The damping is deterministic, so results are stable
    run-to-run (pytest-pinned fixtures). Convergence = no node wants to
    move (checked before masking, so the mover-set choice cannot fake
    quiescence). Communities are relabeled to their min member for stable
    ids. Returns (node, community).
    """
    sym = edges.select("src", "dst", "weight").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    ).localCheckpoint(eager=True)
    two_m = sym.agg(F.sum("weight")).collect()[0][0] or 1.0
    deg = sym.groupBy("src").agg(F.sum("weight").alias("k"))
    labels = deg.select(F.col("src").alias("node"), F.col("src").alias("community"))
    labels = labels.localCheckpoint(eager=True)

    for it in range(max_iterations):
        lbl_dst = labels.select(F.col("node").alias("dst"), F.col("community"))
        # weight from each node to each neighbor community
        k_in = (
            sym.join(lbl_dst, "dst")
            .groupBy("src", "community")
            .agg(F.sum("weight").alias("k_in"))
        )
        cur = labels.select(F.col("node").alias("src"), F.col("community").alias("cur_c"))
        # candidate set = neighbor communities + the current community
        cand = k_in.unionByName(
            cur.select("src", F.col("cur_c").alias("community"))
            .withColumn("k_in", F.lit(0.0))
        ).groupBy("src", "community").agg(F.max("k_in").alias("k_in"))
        tot = (
            labels.join(deg, labels.node == deg.src)
            .groupBy("community").agg(F.sum("k").alias("tot"))
        )
        scored = (
            cand.join(deg, "src")
            .join(tot, "community")
            .join(cur, "src")
            .withColumn(
                "gain",
                F.col("k_in")
                - F.col("k")
                * (F.col("tot") - F.when(F.col("community") == F.col("cur_c"), F.col("k")).otherwise(0.0))
                / F.lit(float(two_m)),
            )
        )
        from pyspark.sql import Window

        w = Window.partitionBy("src").orderBy(F.desc("gain"), F.asc("community"))
        best = (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("src").alias("node"), F.col("community").alias("best_c"))
        )
        joined = best.join(labels, "node").localCheckpoint(eager=True)
        # true fixpoint probe BEFORE masking: does ANY node want to move?
        wants = (
            joined.where(F.col("best_c") != F.col("community")).limit(1).count()
        )
        if wants == 0:
            break
        # damping: bit (it % 32) of the node hash gates movers this round
        may_move = (
            F.pmod(F.shiftright(F.xxhash64("node"), it % 32), F.lit(2)) == 0
        )
        # narrow projection over the just-checkpointed frame: lineage stays
        # bounded without materializing the same per-node data twice
        labels = joined.select(
            "node",
            F.when(may_move, F.col("best_c"))
            .otherwise(F.col("community"))
            .alias("community"),
        )

    # stable ids: min member node per community
    reps = labels.groupBy("community").agg(F.min("node").alias("cid"))
    return labels.join(reps, "community").select("node", F.col("cid").alias("community"))


def resolve_conflicts(memberships: DataFrame, edges: DataFrame) -> DataFrame:
    """G6 (clustering.py:587-661): an entity appearing in multiple clusters
    keeps the one with the max mean edge weight to that cluster's members
    (ties -> smaller cluster_id). No-op for CC output (disjoint by
    construction); needed for overlapping community detectors.

    memberships: (entity_id, cluster_id); edges: (src, dst, weight).
    """
    from pyspark.sql import Window

    sym = edges.select("src", "dst", "weight").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    )
    m2 = memberships.select(
        F.col("entity_id").alias("dst"), F.col("cluster_id").alias("cid")
    )
    # mean weight from each entity to members of each of its candidate clusters
    affinity = (
        sym.join(m2, "dst")
        .groupBy(F.col("src").alias("entity_id"), F.col("cid").alias("cluster_id"))
        .agg(F.avg("weight").alias("mean_w"))
    )
    scored = memberships.join(affinity, ["entity_id", "cluster_id"], "left").fillna(
        {"mean_w": 0.0}
    )
    w = Window.partitionBy("entity_id").orderBy(F.desc("mean_w"), F.asc("cluster_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("entity_id", "cluster_id")
    )
