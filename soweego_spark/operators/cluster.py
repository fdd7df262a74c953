"""Transitive clustering: large-star/small-star connected components.

Not present in the reference (it only dedups the (qid,tid) index,
linker/link.py:222-223) — required by the north rule for web-scale entity
resolution: match edges form components; each component is one entity.

Algorithm: alternating large-star/small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14) — converges in O(log n)
rounds, each round two shuffles (groupBy + join-free emits). Labels are the
lexicographic-min URL of the component, so output is deterministic and needs
no global id assignment (no zipWithIndex at 10^12 rows).

Driver-side control flow is the convergence loop only; per-iteration
``localCheckpoint`` truncates lineage so plans don't grow unboundedly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from soweego_spark import pins


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every neighbor v > u to m = min(N(u) ∪ {u})."""
    sym = edges.select(
        F.col("src").alias("u"), F.col("dst").alias("v")
    ).unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
    grouped = sym.groupBy("u").agg(
        F.collect_set("v").alias("nbrs"),
    )
    # m MUST be materialized in a projection BELOW the explode: referenced
    # directly in the explode's select it is re-evaluated per OUTPUT row,
    # and array_min(array_union(...)) is O(degree) — on a degree-d node
    # that is O(d²) work (a planted 100k-degree star burned ~3 min of CPU
    # in one task; with the pre-projection the same graph clusters in
    # seconds). Same per-row-rebuild family as CLAUDE.md's literal-array
    # note, but on a data column.
    grouped = grouped.withColumn(
        "m", F.array_min(F.array_union(F.col("nbrs"), F.array(F.col("u"))))
    )
    # No .distinct() here: the next phase's groupBy/collect_set dedups
    # anyway, and dropping it removes one full shuffle per iteration (the
    # duplicate multiplicity is bounded by node degree). Measured ~2x on
    # the CC stage; the final star extraction still dedups.
    return grouped.select(
        F.explode(
            F.filter(F.col("nbrs"), lambda v: v > F.col("u"))
        ).alias("src"),
        F.col("m").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every neighbor v <= u (and u) to the min."""
    directed = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    grouped = directed.groupBy("u").agg(F.collect_set("v").alias("nbrs"))
    # same pre-projection as _large_star: never evaluate the O(degree)
    # min under the explode (quadratic per-output-row re-evaluation)
    grouped = grouped.withColumn(
        "m", F.array_min(F.array_union(F.col("nbrs"), F.array(F.col("u"))))
    )
    # Same no-distinct rationale as _large_star.
    return grouped.select(
        F.explode(
            F.array_union(F.col("nbrs"), F.array(F.col("u")))
        ).alias("src"),
        F.col("m").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))


def connected_components(
    edges: DataFrame,
    src: str = "url_a",
    dst: str = "url_b",
    max_iterations: int = 20,
    single_task_edges: int = 1_000_000,
) -> DataFrame:
    """Edge list -> (url, cluster_id) with cluster_id = min url in component.

    Only nodes that appear in an edge are returned; callers union isolated
    nodes with ``cluster_id = url`` themselves (see ``assign_clusters``).

    ``single_task_edges`` (r7): when the whole edge set fits this cap, a
    single-task union-find decides identically (cluster_id = min of
    component; UTF-8 binary order == code-point order, so Python min
    matches Spark string ordering) and the large-star/small-star loop's
    per-iteration driver round trips vanish — the same memory envelope
    as one shuffle partition of a skewed graph, and the same cap idea as
    dedup._greedy_component_drops. The initial fingerprint action
    already counts the edges, so the routing costs no extra job. Set 0
    to force the iterative path (scale proofs, tests).

    The convergence loop releases each iteration's localCheckpoint, but
    the FINAL converged edge set stays pinned because the lazy result
    depends on it; that pin belongs to the caller's ``pins.scope()``
    (per-batch loops run inside a stage scope, so nothing accumulates).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).filter(
        F.col("src") != F.col("dst")
    )
    # LAZY checkpoint: the fingerprint action below is the single job that
    # both materializes/pins the checkpointed RDD and returns the
    # convergence signal. The old eager-checkpoint-then-probe shape paid
    # 2 driver-scheduled jobs per iteration; at sandbox scale the loop's
    # wall is driver-round LATENCY, not data, so halving jobs/iteration
    # halves the operator's fixed floor (round-6; jobs/round is
    # regression-asserted via statusTracker in tests/test_cluster.py).
    e = pins.checkpoint(e, eager=False)

    def _fingerprint(df):
        # Order-insensitive edge-set fingerprint: count + hash sum. ONE
        # lightweight action per iteration; scanning every partition for
        # the aggregate is also what materializes the lazy checkpoint.
        row = df.select(
            F.count("*").alias("n"),
            F.sum(F.hash("src", "dst").cast("long")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    fp = _fingerprint(e)

    if 0 < fp[0] <= single_task_edges:
        return _union_find_single_task(e)
    for _ in range(max_iterations):
        prev = e
        e = pins.checkpoint(_small_star(_large_star(e)), eager=False)
        fp_new = _fingerprint(e)  # materializes e's checkpoint + probes
        # the fingerprint has materialized the new checkpoint, so the
        # previous one is dead (unreleased, it stays until GC)
        pins.release(prev)
        if fp_new == fp:
            break
        fp = fp_new
    # After convergence every edge points node -> component min (a star).
    members = e.select(F.col("src").alias("url"), F.col("dst").alias("cluster_id"))
    roots = e.select(F.col("dst").alias("url"), F.col("dst").alias("cluster_id"))
    return members.unionByName(roots).distinct()


def _union_find_single_task(e: DataFrame) -> DataFrame:
    """(src, dst) edges -> (url, cluster_id = component min) in ONE
    applyInPandas task (path-halving union-find); semantics identical to
    the converged star extraction."""
    import pandas as pd

    from pyspark.sql.types import StructField, StructType

    id_type = e.schema["src"].dataType

    def uf(pdf: pd.DataFrame) -> pd.DataFrame:
        parent: dict = {}

        def find(x):
            root = x
            while parent.setdefault(root, root) != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for a, b in zip(pdf["src"], pdf["dst"]):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN root so the representative is already the
                # component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        return pd.DataFrame(
            {
                "url": list(parent.keys()),
                "cluster_id": [find(x) for x in parent.keys()],
            }
        )

    return (
        e.select(F.lit(0).alias("_g"), "src", "dst")
        .groupBy("_g")
        .applyInPandas(
            uf,
            schema=StructType(
                [
                    StructField("url", id_type),
                    StructField("cluster_id", id_type),
                ]
            ),
        )
    )


def assign_clusters(
    nodes: DataFrame, edges: DataFrame, node_col: str = "url"
) -> DataFrame:
    """All nodes -> (url, cluster_id); nodes without edges are singletons."""
    comp = connected_components(edges)
    return (
        nodes.select(F.col(node_col).alias("url"))
        .distinct()
        .join(comp, "url", "left")
        .select(
            "url", F.coalesce("cluster_id", F.col("url")).alias("cluster_id")
        )
    )
