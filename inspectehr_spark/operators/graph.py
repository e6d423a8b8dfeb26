"""Connected components by iterative min-label propagation — the cluster
step of every near-duplicate pipeline (MinHash/SimHash/embedding pair sets
→ duplicate CLUSTERS → keep one survivor per cluster).

Spark has no native iterative-fixpoint operator; the idiomatic shape is a
DRIVER loop where each iteration is fully distributed DataFrame algebra
(join + min-aggregate) and the only driver-side value is the converged?
scalar. Three scale levers at 10^9-edge graphs:

- POINTER DOUBLING: each round also folds in label(label(v)) — one
  label-keyed self-join — so label trees halve in height per round and a
  diameter-d component converges in O(log d) rounds instead of O(d)
  (the same shortcutting step GraphX/Pregel CC and the MapReduce
  large-star/small-star family rely on);
- DELTA FRONTIER: only labels that CHANGED last round re-propagate to
  neighbours. Labels decrease monotonically, so an unchanged neighbour's
  past contribution is already folded in — the per-round edge join
  shrinks with convergence instead of re-shuffling the full
  bidirectional edge list every round;
- lineage must be CUT every couple of rounds (localCheckpoint; a
  reliable checkpoint dir on a real cluster): the pointer-doubling
  self-join DOUBLES the logical plan per round, so an uncut window of k
  rounds carries 2^k plan subtrees and Catalyst analysis itself becomes
  the bottleneck (measured here: interval 5 → 74 s for a 651-node
  graph, interval 2 → 9.4 s; GraphFrames' CC defaults to interval 2
  for the same reason).

The min-reachable-id label is engine-independent, so a DuckDB recursive
CTE over the same edge set is a FULL value oracle (see
queries_r3.q_near_dup_components).

Reference analog: none (inspectEHR flags duplicates pairwise only); part
of the beyond-reference training-data operator set (SURVEY §8)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _components_single_task(
    edges: DataFrame, src: str, dst: str
) -> DataFrame:
    """Exact min-label components of a SMALL (pre-counted, cached) edge
    list in ONE executor task: coalesce(1) over the cached partitions (a
    narrow read — no recompute, no shuffle) feeding a union-find where the
    smaller root always wins, so each root IS the component minimum. Same
    contract as the iterative path: one row per node incident to an edge,
    component = smallest reachable id. No driver collect — the edge list
    stays on an executor. `src` and `dst` must share a type and hold no
    null (connected_components checks both before choosing this path)."""
    node_t = dict(edges.dtypes)[src]
    schema = f"node {node_t}, component {node_t}"

    def uf(batches):
        import pandas as pd

        parent: dict = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for pdf in batches:
            for a, b in zip(pdf.iloc[:, 0], pdf.iloc[:, 1]):
                if a not in parent:
                    parent[a] = a
                if b not in parent:
                    parent[b] = b
                ra, rb = find(a), find(b)
                if ra == rb:
                    continue
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        nodes = list(parent)
        yield pd.DataFrame(
            {"node": nodes, "component": [find(n) for n in nodes]}
        )

    return edges.select(src, dst).coalesce(1).mapInPandas(uf, schema)


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_every: int = 2,
    stats: dict | None = None,
    small_graph_threshold: int = 500_000,
) -> DataFrame:
    """Components of the undirected graph given by `edges`: returns
    (node, component) for every node incident to an edge, where
    `component` = the smallest node id reachable from it.

    Pass a dict as `stats` to receive {"rounds": k} (tests assert the
    pointer-doubling round count: a 64-node chain converges in ~7 rounds,
    not 63). Raises RuntimeError if `max_iter` rounds don't converge
    (pathological diameter — raise the cap or pre-bucket the graph).

    r7 scale-adaptive path selection: the iterative fixpoint costs ~5-7
    driver-loop rounds of distributed joins — right for 10^9-edge graphs,
    pure fixed overhead for the small edge sets a capped/bucketed
    near-dup pass emits. When one count job shows the edge list at or
    under `small_graph_threshold`, the components are computed exactly in
    ONE executor task over the cached edges (union-find, min root —
    `_components_single_task`; bounded: 500k edges is ~10^2 MB of Python
    dict). `stats["rounds"] = 0` marks the small path. Set the threshold
    to 0 to force the iterative path (the deep-chain pointer-doubling
    test does). The decision is input-size-driven, never cluster-size
    tuned, so a 100 TB pair set takes the iterative path unchanged.

    The union-find needs one comparable, non-null id type. Edges whose
    `src` and `dst` types differ, or that hold a null id (counted in the
    same job as the size), take the iterative path whatever their size:
    there Spark coerces both ends to a common type, and a null id becomes
    a (null, null) row that links to nothing."""
    types = dict(edges.dtypes)
    if small_graph_threshold > 0 and types[src] == types[dst]:
        cached = edges.persist()
        n, n_null = cached.agg(
            F.count(F.lit(1)),
            F.count_if(F.col(src).isNull() | F.col(dst).isNull()),
        ).first()
        if n <= small_graph_threshold and not n_null:
            if stats is not None:
                stats["rounds"] = 0
            return _components_single_task(cached, src, dst)
        edges = cached
    bidir = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        bidir.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    frontier = labels  # round 0: every node "changed" (initial label = id)
    try:
        for it in range(max_iter):
            # deltas only: neighbours of nodes whose label changed last round
            neigh_min = (
                bidir.join(
                    frontier.select(
                        F.col("node").alias("_fb"), F.col("label").alias("_fl")
                    ),
                    bidir["b"] == F.col("_fb"),
                )
                .groupBy(F.col("a").alias("node2"))
                .agg(F.min("_fl").alias("_nmin"))
            )
            l1 = labels.join(
                neigh_min, labels["node"] == F.col("node2"), "left"
            ).select(
                "node",
                F.col("label").alias("_old"),
                F.least("label", F.coalesce("_nmin", "label")).alias("_l1"),
            )
            if it >= 2:
                # pointer doubling: also adopt the label OF my label-node —
                # halves label-tree height, O(log d) total rounds. The join
                # is keyed by label; near-dup clusters keep it narrow
                # (labels converge to few values only in tiny final
                # rounds). Deferred past round 2: shallow components (the
                # common near-dup case) converge before it would pay for
                # its extra per-round join, while deep chains still get
                # the logarithmic schedule from round 2 on.
                lmap = l1.select(
                    F.col("node").alias("_mn"), F.col("_l1").alias("_ml")
                )
                stepped = (
                    l1.join(lmap, l1["_l1"] == F.col("_mn"), "left")
                    .select(
                        "node",
                        F.least("_l1", F.coalesce("_ml", "_l1")).alias("label"),
                        (
                            F.least("_l1", F.coalesce("_ml", "_l1"))
                            < F.col("_old")
                        ).alias("_chg"),
                    )
                )
            else:
                stepped = l1.select(
                    "node",
                    F.col("_l1").alias("label"),
                    (F.col("_l1") < F.col("_old")).alias("_chg"),
                )
            if (it + 1) % checkpoint_every == 0:
                stepped = stepped.localCheckpoint(eager=False)
            stepped = stepped.persist()
            changed = stepped.agg(
                F.sum(F.col("_chg").cast("long")).alias("n")
            ).first()["n"]
            # unpersist the frame that was ACTUALLY persisted last round —
            # unpersisting a projection of it would leak the parent cache
            labels.unpersist()
            labels = stepped  # extra _chg column is ignored by the joins
            frontier = stepped.filter("_chg")
            if stats is not None:
                stats["rounds"] = it + 1
            if not changed:
                return labels.select("node", F.col("label").alias("component"))
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations"
        )
    finally:
        bidir.unpersist()
