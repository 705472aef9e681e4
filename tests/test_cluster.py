"""Connected-components and clustering operator tests (FIXTURES.md §5)."""

import pyspark.sql.functions as F

from entity_resolution_pipeline_spark.operators.cluster import (
    assign_clusters,
    build_edges,
    connected_components,
    transitivity_one_hop,
)


import pytest


def _cc_map(spark, edges, driver_threshold=100_000):
    df = spark.createDataFrame(edges, "src string, dst string")
    rows = connected_components(df, driver_threshold=driver_threshold).collect()
    return {r["node"]: r["component"] for r in rows}


# thr=100k exercises the driver union-find fast path; thr=0 forces the
# distributed large/small-star fixpoint — both must produce min-label
# components identically
@pytest.mark.parametrize("thr", [100_000, 0])
def test_cc_chain_long_diameter(spark, thr):
    # a-b-c-...-j: one component, min id wins
    nodes = [f"n{i:02d}" for i in range(12)]
    edges = list(zip(nodes, nodes[1:]))
    m = _cc_map(spark, edges, thr)
    assert set(m) == set(nodes)
    assert set(m.values()) == {"n00"}


@pytest.mark.parametrize("thr", [100_000, 0])
def test_cc_star(spark, thr):
    edges = [("hub", f"leaf{i}") for i in range(8)]
    m = _cc_map(spark, edges, thr)
    assert set(m.values()) == {"hub"}
    assert len(m) == 9


@pytest.mark.parametrize("thr", [100_000, 0])
def test_cc_two_components_and_dupes(spark, thr):
    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("b", "a"), ("c", "c"), ("z", "z")]
    m = _cc_map(spark, edges, thr)
    assert m["a"] == m["b"] == m["c"] == "a"
    assert m["x"] == m["y"] == "x"
    # a node with only a self-loop is omitted by both paths
    assert "z" not in m


def test_cc_signature_collision_cannot_terminate_early(spark, monkeypatch):
    """The (count, hash-sum) signature is only a probe: force it to collide
    on EVERY round (constant stub) and the exact exceptAll confirmation must
    keep iterating until the true fixpoint — a long chain whose intermediate
    rounds would otherwise be returned half-contracted."""
    from entity_resolution_pipeline_spark.operators import cluster as C

    monkeypatch.setattr(C, "_edges_signature", lambda e: (0, 0))
    nodes = [f"n{i:02d}" for i in range(16)]
    df = spark.createDataFrame(list(zip(nodes, nodes[1:])), "src string, dst string")
    # driver_threshold=0: the collision guard lives in the distributed loop
    m = {r["node"]: r["component"]
         for r in C.connected_components(df, driver_threshold=0).collect()}
    assert set(m) == set(nodes)
    assert set(m.values()) == {"n00"}


def test_cc_empty(spark):
    df = spark.createDataFrame([], "src string, dst string")
    assert connected_components(df).count() == 0


def test_assign_clusters_small_graph_job_count(spark):
    """Below the driver threshold, connected components runs two Spark
    actions (the checkpoint and one bounded collect); with the final
    collect, assign_clusters on a 3-edge graph stays within 4 jobs."""
    sc = spark.sparkContext
    edges = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")], "src string, dst string")
    nodes = spark.createDataFrame([(x,) for x in "abcxy"], "node string")
    group = "assign-clusters-small-graph"
    sc.setJobGroup(group, "assign_clusters job count")
    try:
        rows = {r["entity_id"]: r["cluster_id"]
                for r in assign_clusters(edges, nodes).collect()}
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rows == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert n_jobs <= 4, n_jobs


def test_assign_clusters_singletons(spark):
    edges = spark.createDataFrame([("a", "b")], "src string, dst string")
    nodes = spark.createDataFrame([("a",), ("b",), ("solo",)], "node string")
    rows = {r["entity_id"]: r["cluster_id"] for r in assign_clusters(edges, nodes).collect()}
    assert rows == {"a": "a", "b": "a", "solo": "solo"}


def test_edge_weight_floor_severs_component(spark):
    # 0.5 floor (config.yml:135): the weak a-b edge must not merge a with b
    scored = spark.createDataFrame(
        [("a", "b", 0.95), ("b", "c", 0.4), ("c", "d", 0.92)],
        "url1 string, url2 string, confidence double",
    )
    edges = build_edges(scored, min_edge_weight=0.5, decision_threshold=0.9)
    assert edges.count() == 2  # 0.4 dropped (and 0.4 < threshold anyway)
    nodes = spark.createDataFrame([(x,) for x in "abcd"], "node string")
    m = {r["entity_id"]: r["cluster_id"] for r in assign_clusters(edges, nodes).collect()}
    assert m["a"] == m["b"]
    assert m["c"] == m["d"]
    assert m["a"] != m["c"]


def test_transitivity_one_hop(spark):
    edges = spark.createDataFrame(
        [("a", "b", 0.9), ("b", "c", 0.8)], "src string, dst string, weight double"
    )
    out = transitivity_one_hop(edges, threshold=0.5)
    rows = {(r["src"], r["dst"]): r["weight"] for r in out.collect()}
    assert rows[("a", "c")] == 0.9 * 0.8
    # below-threshold products excluded
    out2 = transitivity_one_hop(edges, threshold=0.8)
    assert ("a", "c") not in {(r["src"], r["dst"]) for r in out2.collect()}


def test_cc_partitioning_invariance(spark):
    edges = [(f"a{i}", f"a{i+1}") for i in range(20)] + [("z1", "z2")]
    df1 = spark.createDataFrame(edges, "src string, dst string").repartition(1)
    df8 = spark.createDataFrame(edges, "src string, dst string").repartition(8)
    m1 = {r["node"]: r["component"] for r in connected_components(df1).collect()}
    m8 = {r["node"]: r["component"] for r in connected_components(df8).collect()}
    assert m1 == m8


def test_label_propagation_matches_cc(spark):
    from entity_resolution_pipeline_spark.operators.cluster import label_propagation

    edges = [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"), ("r", "s")]
    df = spark.createDataFrame(edges, "src string, dst string")
    lp = {r["node"]: r["component"] for r in label_propagation(df).collect()}
    cc = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert lp == cc


def test_resolve_conflicts(spark):
    from entity_resolution_pipeline_spark.operators.cluster import resolve_conflicts

    # entity "e" claimed by clusters 1 and 2; stronger ties to cluster 2
    memberships = spark.createDataFrame(
        [("e", "c1"), ("e", "c2"), ("m1", "c1"), ("m2", "c2"), ("m3", "c2")],
        "entity_id string, cluster_id string",
    )
    edges = spark.createDataFrame(
        [("e", "m1", 0.6), ("e", "m2", 0.9), ("e", "m3", 0.95)],
        "src string, dst string, weight double",
    )
    out = {r["entity_id"]: r["cluster_id"] for r in resolve_conflicts(memberships, edges).collect()}
    assert out["e"] == "c2"
    assert out["m1"] == "c1"
    assert len(out) == 4  # one row per entity


def test_breakup_oversized(spark):
    from entity_resolution_pipeline_spark.operators.cluster import (
        assign_clusters,
        breakup_oversized,
    )

    # two weakly-bridged tight groups
    edges = spark.createDataFrame(
        [("a1", "a2", 0.95), ("a2", "a3", 0.96), ("b1", "b2", 0.97),
         ("b2", "b3", 0.98), ("a3", "b1", 0.55)],
        "src string, dst string, weight double",
    )
    nodes = spark.createDataFrame([(n,) for n in ["a1", "a2", "a3", "b1", "b2", "b3"]], "node string")
    clusters = assign_clusters(edges.select("src", "dst"), nodes)
    assert clusters.select("cluster_id").distinct().count() == 1
    rebroken = breakup_oversized(edges, clusters, max_cluster_size=4, weight_floor=0.9)
    m = {r["entity_id"]: r["cluster_id"] for r in rebroken.collect()}
    assert m["a1"] == m["a2"] == m["a3"]
    assert m["b1"] == m["b2"] == m["b3"]
    assert m["a1"] != m["b1"]


def test_hierarchical_clusters(spark):
    """Average-linkage cut at 1-threshold splits a weak bridge; tiny
    components pass through whole."""
    from entity_resolution_pipeline_spark.operators.cluster import (
        hierarchical_clusters,
    )

    edges = spark.createDataFrame(
        [("a1", "a2", 0.95), ("a2", "a3", 0.9), ("a1", "a3", 0.92),
         ("b1", "b2", 0.96), ("b2", "b3", 0.94), ("b1", "b3", 0.9),
         ("a3", "b1", 0.2),           # weak bridge: avg-linkage must cut it
         ("c1", "c2", 0.99)],         # 2-node component: passthrough
        "src string, dst string, weight double",
    )
    m = {r["node"]: r["cluster_id"] for r in hierarchical_clusters(edges, threshold=0.5).collect()}
    assert m["a1"] == m["a2"] == m["a3"] == "a1"
    assert m["b1"] == m["b2"] == m["b3"] == "b1"
    assert m["a1"] != m["b1"]
    assert m["c1"] == m["c2"]


def test_hierarchical_low_threshold_keeps_component(spark):
    """threshold -> 0 keeps merging through the bridge (one cluster)."""
    from entity_resolution_pipeline_spark.operators.cluster import (
        hierarchical_clusters,
    )

    edges = spark.createDataFrame(
        [("a1", "a2", 0.9), ("a2", "a3", 0.9), ("a3", "a4", 0.9)],
        "src string, dst string, weight double",
    )
    m = {r["node"]: r["cluster_id"] for r in hierarchical_clusters(edges, threshold=0.05).collect()}
    assert len(set(m.values())) == 1


def test_louvain_splits_bridged_cliques(spark):
    """Two dense cliques with one weak bridge: modularity moves split them
    (CC would return a single component)."""
    from entity_resolution_pipeline_spark.operators.cluster import (
        connected_components,
        louvain_clusters,
    )

    rows = []
    for grp in ("a", "b"):
        ids = [f"{grp}{i}" for i in range(4)]
        for i in range(4):
            for j in range(i + 1, 4):
                rows.append((ids[i], ids[j], 1.0))
    rows.append(("a0", "b0", 0.05))
    edges = spark.createDataFrame(rows, "src string, dst string, weight double")
    assert connected_components(edges).select("component").distinct().count() == 1
    m = {r["node"]: r["community"] for r in louvain_clusters(edges).collect()}
    assert m["a0"] == m["a1"] == m["a2"] == m["a3"]
    assert m["b0"] == m["b1"] == m["b2"] == m["b3"]
    assert m["a0"] != m["b0"]


def test_hierarchical_pinned_average_linkage_fixture(spark):
    """Determinism pin (VERDICT r4 task 7): fixed graph, EXACT memberships.

    The fixture distinguishes average linkage from single linkage: after
    {a,b} (dist .1) and {c,d} (dist .15) merge, the b-c bridge (dist .4)
    is under the .5 cut, but the AVERAGE inter-cluster distance
    (1+1+.4+1)/4 = .85 is over it — average linkage stops, single linkage
    would collapse everything. A refactor that changes linkage, tie-break,
    or the missing-edge=distance-1 convention flips the pinned mapping.
    """
    from entity_resolution_pipeline_spark.operators.cluster import (
        hierarchical_clusters,
    )

    edges = spark.createDataFrame(
        [("a", "b", 0.9), ("c", "d", 0.85), ("b", "c", 0.6)],
        "src string, dst string, weight double",
    )
    expected = {"a": "a", "b": "a", "c": "c", "d": "c"}
    for _ in range(2):  # run-to-run determinism
        got = {r["node"]: r["cluster_id"]
               for r in hierarchical_clusters(edges, threshold=0.5).collect()}
        assert got == expected


def test_louvain_pinned_fixture(spark):
    """Determinism pin (VERDICT r4 task 7): fixed weighted graph, EXACT
    (node -> community) mapping, stable across repeated runs.

    Two 1.0-weight triangles bridged by a 0.1 edge must settle to exactly
    {a0,a1,a2} -> a0 and {b0,b1,b2} -> b0 (min-member relabel). Pins the
    synchronous-move semantics, the dQ formula, and the
    ties->smallest-community tie-break.
    """
    from entity_resolution_pipeline_spark.operators.cluster import (
        louvain_clusters,
    )

    rows = []
    for grp in ("a", "b"):
        ids = [f"{grp}{i}" for i in range(3)]
        for i in range(3):
            for j in range(i + 1, 3):
                rows.append((ids[i], ids[j], 1.0))
    rows.append(("a0", "b0", 0.1))
    edges = spark.createDataFrame(rows, "src string, dst string, weight double")
    expected = {"a0": "a0", "a1": "a0", "a2": "a0",
                "b0": "b0", "b1": "b0", "b2": "b0"}
    for _ in range(2):
        got = {r["node"]: r["community"]
               for r in louvain_clusters(edges).collect()}
        assert got == expected


def test_driver_union_find_matches_scalar_reference(spark):
    """The vectorized min-label pointer-jumping fast path must label
    exactly like the classic scalar union-find (component = min node id),
    on random graphs, a long chain, and STRING node ids."""
    import numpy as np

    from entity_resolution_pipeline_spark.operators.cluster import (
        _driver_union_find,
    )

    def scalar_uf(edge_list):
        parent = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for a, b in edge_list:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        comp_min = {}
        roots = {x: find(x) for x in parent}
        for x, r in roots.items():
            m = comp_min.get(r)
            if m is None or x < m:
                comp_min[r] = x
        return {x: comp_min[r] for x, r in roots.items()}

    rng = np.random.default_rng(11)
    cases = []
    for _ in range(4):
        n = int(rng.integers(5, 400))
        m = int(rng.integers(1, 900))
        cases.append(
            [(int(a), int(b)) for a, b in rng.integers(0, n, size=(m, 2)) if a != b]
        )
    cases.append([(i, i + 1) for i in range(3000)])  # long chain diameter
    for edge_list in cases:
        if not edge_list:
            continue
        e = spark.createDataFrame(edge_list, "src long, dst long")
        got = {r["node"]: r["component"]
               for r in _driver_union_find(spark, e.toPandas(), "bigint").collect()}
        assert got == scalar_uf(edge_list)
    # string ids: lexicographic min, same as the scalar comparison
    s_edges = [(f"u{a}", f"u{b}")
               for a, b in rng.integers(0, 120, size=(400, 2)) if a != b]
    e = spark.createDataFrame(s_edges, "src string, dst string")
    got = {r["node"]: r["component"]
           for r in _driver_union_find(spark, e.toPandas(), "string").collect()}
    assert got == scalar_uf(s_edges)
