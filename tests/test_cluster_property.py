"""Connected-components vs a union-find oracle on random graphs.

The large-star/small-star loop is the engine's one iterative operator;
pin it against a driver-side union-find across graph shapes: sparse
random, chains (worst case for star rounds), cliques, singletons.
"""

from __future__ import annotations

import random

import pytest

from soweego_spark.operators.cluster import assign_clusters, connected_components


def _union_find(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict[str, set] = {}
    for n in nodes:
        groups.setdefault(find(n), set()).add(n)
    # canonical label = min member, matching the operator's contract
    return {n: min(g) for g in groups.values() for n in g}


def _check(spark, nodes, edges):
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "url string")
    edges_df = spark.createDataFrame(
        edges or [("__none_a__", "__none_a__")],
        "url_a string, url_b string",
    )
    got = {
        r["url"]: r["cluster_id"]
        for r in assign_clusters(nodes_df, edges_df).collect()
        if r["url"] in nodes
    }
    assert got == _union_find(nodes, edges)


def test_random_sparse_graph(spark):
    rng = random.Random(17)
    nodes = [f"n{i:03d}" for i in range(200)]
    edges = []
    for _ in range(150):
        a, b = rng.sample(nodes, 2)
        edges.append((min(a, b), max(a, b)))
    _check(spark, nodes, edges)


def test_long_chain(spark):
    # Chains maximize star-iteration depth (diameter n); must converge to
    # one component within max_iterations (O(log n) rounds expected).
    nodes = [f"c{i:03d}" for i in range(120)]
    edges = [(nodes[i], nodes[i + 1]) for i in range(len(nodes) - 1)]
    _check(spark, nodes, edges)


def test_cliques_and_singletons(spark):
    nodes, edges = [], []
    for c in range(5):
        members = [f"k{c}_{i}" for i in range(8)]
        nodes += members
        edges += [
            (min(a, b), max(a, b))
            for i, a in enumerate(members)
            for b in members[i + 1 :]
        ]
    nodes += [f"solo{i}" for i in range(10)]  # no edges -> self clusters
    _check(spark, nodes, edges)


def test_duplicate_and_self_edges_ignored(spark):
    nodes = ["a", "b", "c"]
    edges = [("a", "b"), ("a", "b"), ("b", "a"), ("c", "c")]
    _check(spark, nodes, edges)


def test_cc_loop_releases_checkpoint_rdds(spark):
    """Each iteration localCheckpoints the edge set; the loop must
    unpersist the PREVIOUS iteration's pinned RDD (localCheckpoint
    persists, it is not a cache-leak fix — build note). A long chain
    forces multiple iterations; afterwards at most the FINAL checkpoint
    may remain persisted."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(120)],
        "url_a string, url_b string",
    )
    out = connected_components(edges, single_task_edges=0)
    assert out.select("cluster_id").distinct().count() == 1
    after = jsc.getPersistentRDDs().size()
    assert after <= before + 1, (before, after)


def test_cc_loop_one_action_per_iteration(spark):
    """Driver-round floor regression (round-6): each CC iteration must
    issue ONE Spark action — the fingerprint aggregate that also
    materializes that iteration's lazy localCheckpoint (the round-5 shape
    paid a separate eager-checkpoint job per iteration). AQE splits the
    action into one job per Exchange; marginal jobs per extra iteration
    between two chain lengths of known iteration counts stays ~4-5 with
    the single-action loop and >=6 with the two-action shape."""
    sc = spark.sparkContext
    jobs = {}
    for label, n in (("short", 4), ("long", 80)):
        edges = spark.createDataFrame(
            [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)],
            "url_a string, url_b string",
        )
        group = f"cc-jobs-{label}"
        sc.setJobGroup(group, "job-count probe")
        try:
            out = connected_components(edges, single_task_edges=0)
            assert out.select("cluster_id").distinct().count() == 1
        finally:
            sc.setJobGroup(None, None)
        jobs[label] = len(sc.statusTracker().getJobIdsForGroup(group))
    # alternating star rounds halve chain diameter: the 80-edge chain
    # takes 8 iterations vs the 4-edge chain's 3 (instrumented; both
    # deterministic for fixed input). Measured marginal: 4.0 jobs/iter
    # single-action, >=5 with the extra eager-checkpoint job per iter.
    marginal = (jobs["long"] - jobs["short"]) / 5.0
    assert marginal <= 4.8, jobs


def test_pairwise_cluster_metrics_hand_computed(spark):
    """3 truth entities, 2 predicted clusters; counts checked by hand:
    clusters {a1,a2,b1} and {b2,b3,c1}: TP = C(2,2-ish)... explicitly:
    intersections: (c1∩A)=2 ->1 pair, (c1∩B)=1, (c2∩B)=2 ->1 pair,
    (c2∩C)=1 => tp=2; predicted = 2*C(3,2)=6; actual = C(2,2)+C(3,2)... =
    1+3+... A has 2 members ->1, B has 3 ->3, C has 1 ->0 => actual=4."""
    from soweego_spark.operators.evaluate import pairwise_cluster_metrics

    assign = spark.createDataFrame(
        [("a1", 1), ("a2", 1), ("b1", 1), ("b2", 2), ("b3", 2), ("c1", 2)],
        "url string, cluster_id long",
    )
    truth = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("b1", "B"), ("b2", "B"), ("b3", "B"),
         ("c1", "C")],
        "url string, entity_id string",
    )
    row = pairwise_cluster_metrics(assign, truth).first()
    assert row["tp_pairs"] == 2
    assert row["predicted_pairs"] == 6
    assert row["actual_pairs"] == 4
    assert row["precision"] == 2 / 6
    assert row["recall"] == 2 / 4
    f1 = 2 * (2 / 6) * (2 / 4) / ((2 / 6) + (2 / 4))
    assert abs(row["f1"] - f1) < 1e-15


def test_pairwise_cluster_metrics_perfect_and_empty(spark):
    from soweego_spark.operators.evaluate import pairwise_cluster_metrics

    assign = spark.createDataFrame(
        [("x", 9), ("y", 9), ("z", 7)], "url string, cluster_id long"
    )
    truth = spark.createDataFrame(
        [("x", "E"), ("y", "E"), ("z", "F")], "url string, entity_id string"
    )
    row = pairwise_cluster_metrics(assign, truth).first()
    assert (row["precision"], row["recall"], row["f1"]) == (1.0, 1.0, 1.0)

    singletons = spark.createDataFrame(
        [("x", 1), ("y", 2)], "url string, cluster_id long"
    )
    t2 = spark.createDataFrame(
        [("x", "E"), ("y", "F")], "url string, entity_id string"
    )
    row2 = pairwise_cluster_metrics(singletons, t2).first()
    # no pairs anywhere -> all-zero counts, metrics defined as 0
    assert row2["tp_pairs"] == 0 and row2["f1"] == 0.0


def test_pairwise_cluster_metrics_labeled_only(spark):
    """With partially-overlapping id sets the two denominator contracts
    differ: full mode counts never-labelable pairs in pred/act (deflating
    P/R), labeled_only restricts both frames to the shared id set first —
    the reference's labeled-index convention."""
    from soweego_spark.operators.evaluate import pairwise_cluster_metrics

    # cluster 1 = {a1, a2, u1, u2} but u1/u2 are unlabeled; truth also has
    # t-only ids z1/z2 sharing an entity that was never assigned.
    assign = spark.createDataFrame(
        [("a1", 1), ("a2", 1), ("u1", 1), ("u2", 1)],
        "url string, cluster_id long",
    )
    truth = spark.createDataFrame(
        [("a1", "A"), ("a2", "A"), ("z1", "Z"), ("z2", "Z")],
        "url string, entity_id string",
    )
    full = pairwise_cluster_metrics(assign, truth).first()
    # full: pred = C(4,2)=6 (u-pairs can never be TP), act = 1+1 = 2
    assert (full["tp_pairs"], full["predicted_pairs"], full["actual_pairs"]) \
        == (1, 6, 2)
    lab = pairwise_cluster_metrics(assign, truth, labeled_only=True).first()
    # labeled-only: both frames reduce to {a1, a2} -> perfect
    assert (lab["tp_pairs"], lab["predicted_pairs"], lab["actual_pairs"]) \
        == (1, 1, 1)
    assert (lab["precision"], lab["recall"], lab["f1"]) == (1.0, 1.0, 1.0)


def test_single_task_union_find_matches_iterative(spark):
    """r7: the single-task union-find fast path must return exactly the
    iterative star loop's (url, cluster_id) set on random graphs, chains
    and cliques."""
    import random

    rnd = random.Random(7)
    cases = [
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(40)],  # chain
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "a")],
        [
            (f"v{rnd.randrange(30):02d}", f"v{rnd.randrange(30):02d}")
            for _ in range(60)
        ],
    ]
    for rows in cases:
        edges = spark.createDataFrame(rows, "url_a string, url_b string")
        fast = connected_components(edges)
        slow = connected_components(edges, single_task_edges=0)
        assert sorted(map(tuple, fast.collect())) == sorted(
            map(tuple, slow.collect())
        )
