"""Connected components over an edge list — the transitive-closure
step that turns near-duplicate PAIRS into duplicate GROUPS (pick one
keeper per component and drop the rest).

Algorithm: iterative minimum-label propagation. Every vertex starts
labeled with itself; each round, every vertex takes the min of its own
label and its neighbors' labels; converged when nothing changes. This
is the standard scalable CC for Spark — each round is one join + one
aggregate (both hash, map-side combinable), the frontier shrinks
geometrically, and there is no union-find state to centralize. Rounds
needed = graph diameter (near-dup graphs are clique-ish: 2-3 rounds).

The driver loop is the same localCheckpoint-per-round shape as
operators/topology.pagerank_iterations: checkpointing truncates the
lineage so round N's plan doesn't replay rounds 1..N-1.

Reference lineage: the reference has no graph operators beyond one
PageRank contribution round (page_rank_topology.py); components are
part of the added dedup surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Label propagation converges in diameter rounds; this bounds the
# loop on a pathological (long-chain) graph, which then raises rather
# than return partial labels as components.
MAX_ROUNDS = 50


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    reliable_every: int = 0,
) -> DataFrame:
    """(vertex, component_id) for every vertex with at least one edge;
    component_id is the minimum vertex id in the component.
    ``reliable_every=N`` swaps every Nth round's localCheckpoint for a
    durable ``df.checkpoint()`` (bounded replay after executor loss;
    bit-identical output — see operators/caching.py)."""
    # LAZY checkpoint (r11, guide §1.2): the count() below is the
    # first action and materializes the frame inside its own job —
    # the eager form paid a separate materialization action first.
    # Every consumer after the count reads the stored blocks either
    # way.
    und = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("t"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("t")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # The duplicate-pair graph is tiny relative to the corpus that
    # produced it (only near-dups survive): a 100 TB corpus with 1%
    # near-dups yields a pair graph in the millions, not billions.
    # When it fits in one partition, transitive closure by iterative
    # joins is all scheduling overhead (2 jobs per round, every round
    # a cluster barrier) — run a partition-local union-find in one
    # task instead. The loop below remains the genuinely-distributed
    # path for graphs that don't fit. The count doubles as the
    # materialization action.
    if und.count() < 100_000:
        return _local_union_find(und)
    labels = (
        und.select(F.col("s").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"))
        .localCheckpoint(eager=True)
    )
    from crane_spark.operators.caching import (
        loop_checkpoint,
        release_local_checkpoint,
    )

    prev_ck = labels
    for rnd in range(1, MAX_ROUNDS + 1):
        neighbor_min = (
            und.join(labels, und["s"] == labels["v"])
            .groupBy("t")
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels["v"] == neighbor_min["t"], "left")
            .select(
                "v",
                F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                    "label"
                ),
                (F.col("nmin") < F.col("label")).alias("improved"),
            )
        )
        new_labels = loop_checkpoint(new_labels, rnd, reliable_every)
        # the superseded round's stored labels have no consumer left
        release_local_checkpoint(prev_ck)
        prev_ck = new_labels
        changed = new_labels.filter(F.col("improved")).count()
        labels = new_labels.select("v", "label")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after {MAX_ROUNDS} "
            f"rounds ({changed} vertices improved in the last); the graph's "
            "diameter exceeds MAX_ROUNDS"
        )
    return labels.select(F.col("v"), F.col("label").alias("component_id"))


def _local_union_find(und: DataFrame) -> DataFrame:
    """Exact min-label components for a single-partition edge list:
    one Arrow-batched task, no iteration. Unions always hang the larger
    root under the smaller, so find(v) IS the component minimum."""
    import pandas as pd

    vtype = und.schema["s"].dataType.simpleString()

    def uf(batches):
        parent: dict = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for s, t in zip(pdf["s"], pdf["t"]):
                rs, rt = find(s), find(t)
                if rs != rt:
                    parent[max(rs, rt)] = min(rs, rt)
        verts = sorted(parent)
        yield pd.DataFrame(
            {"v": verts, "component_id": [find(v) for v in verts]}
        )

    return und.coalesce(1).mapInPandas(
        uf, f"v {vtype}, component_id {vtype}"
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Enumerate triangles (a,b,c) of an undirected graph given as
    CANONICAL edges (src < dst): each triangle appears exactly once as
    a<b<c, via a two-step wedge join — e(a,b) ⋈ e(b,c) builds wedges,
    e(a,c) closes them.

    Scale notes: the joins shuffle by vertex id; for skewed (power-law)
    graphs, orient edges by DEGREE instead of id before calling
    (low-degree endpoint first) — that bounds every wedge list by the
    arboricity and is the standard distributed-triangle trick. Output
    is one row per triangle; aggregate downstream.
    """
    e1 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e2 = edges.select(F.col(src).alias("b"), F.col(dst).alias("c"))
    e3 = edges.select(F.col(src).alias("a"), F.col(dst).alias("c"))
    return e1.join(e2, "b").join(e3, ["a", "c"]).select("a", "b", "c")
