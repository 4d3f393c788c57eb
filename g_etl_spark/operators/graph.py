"""Distributed connected components over a pair/edge DataFrame.

The dedup endgame: candidate generation (MinHash/SimHash/n-gram)
yields PAIRS, but retention decisions need CLUSTERS — transitive
groups where A~B and B~C put A,B,C in one component even when A~C
never met a threshold. This module turns an edge list into a
(node, component) labeling with component = min node id reachable,
entirely in DataFrame ops.

The one operator, ``connected_components``, is the large-star/small-star
scheme of Kiveris et al. (SoCC'14): O(log n) rounds whatever the
graph's diameter, after a per-partition local contraction that solves
a graph fitting in one partition with no distributed round.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def _truncate(df: DataFrame, reliable_checkpoint: bool) -> DataFrame:
    """Materialize ``df`` and cut its lineage: to the session's
    checkpoint dir when ``reliable_checkpoint``, else executor-local."""
    if reliable_checkpoint:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _contract_partition(batches):
    """mapInPandas body: union-find over one partition's ``(u, v)``
    edges, emitting ``(node, root)`` for every non-root node, where
    root is the minimum of the node's partition-local component.

    Every edge joins two nodes of one local component, and the emitted
    edges span each local component, so the output has exactly the
    components of the input and the same minimum per component. The
    only state is the node -> parent map; batches are folded in as they
    stream. Output rows keep the canonical orientation (node > root).
    """
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = parent.setdefault(x, x)
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for pdf in batches:
        for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:  # hang the larger root under the smaller
                parent[max(ra, rb)] = min(ra, rb)
    nodes, roots = [], []
    for x in parent:
        r = find(x)
        if r != x:
            nodes.append(x)
            roots.append(r)
        if len(nodes) == 65536:
            yield pd.DataFrame({"u": nodes, "v": roots})
            nodes, roots = [], []
    if nodes:
        yield pd.DataFrame({"u": nodes, "v": roots})


def _is_star_forest(e: DataFrame) -> bool:
    """True when the (u > v)-oriented edge set is already the
    large-star/small-star fixpoint: every ``u`` sits in exactly one
    row and no ``v`` appears as a ``u``. Then each ``v`` is the minimum
    of its star and each star is one component. One aggregate: a node
    fails when it is some row's ``u`` and occurs in more than one row."""
    ends = e.select(F.col("u").alias("n"), F.lit(1).alias("as_u")).unionByName(
        e.select(F.col("v").alias("n"), F.lit(0).alias("as_u"))
    )
    per_node = ends.groupBy("n").agg(
        F.sum("as_u").alias("as_u"), F.count(F.lit(1)).alias("rows")
    )
    return per_node.filter((F.col("as_u") > 0) & (F.col("rows") > 1)).isEmpty()


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 40,
    reliable_checkpoint: bool = False,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — converges in O(log n) rounds regardless of diameter.

    Per round, over the canonically-oriented edge set (u > v):

    - large-star: every node links its strictly-larger neighbors to
      the minimum of its closed neighborhood;
    - small-star: every node links its smaller-or-equal neighbors
      (and itself) to that minimum.

    Each op is one groupBy-min plus one equi-join, both partitioned
    on node id. At fixpoint the edge set is stars rooted at each
    component's minimum node, so labels read off the edges directly.
    Returns ``(node, component)``, component = the smallest node id
    in the node's component. Isolated nodes never appear in an edge
    list, so callers wanting singleton components union them in
    afterwards (component = own id); NULL and self-loop edges are
    dropped.

    Rounds are dispatch-bound on small graphs, so two things keep
    their number down. First, after the edges are canonicalized and
    deduplicated, every partition is contracted locally
    (``_contract_partition``: union-find inside one task). Spark's
    own partition sizing decides how much of the graph one task
    solves; a graph that lands in one partition comes out as the
    final star forest and needs no round. Second, convergence is
    tested BEFORE each round by ``_is_star_forest``, one aggregate
    over the edges, instead of running a round and comparing its
    output with its input. Raises RuntimeError if the edges are not
    a star forest after ``max_iter`` rounds.

    Every truncation (after the contraction and after each round) is
    executor-local by default; ``reliable_checkpoint=True`` writes it
    to the session's checkpoint dir (``sc.setCheckpointDir``) instead,
    so a run survives a lost executor at the cost of writing the edge
    set once per round.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .distinct()
    )
    e = _truncate(e.mapInPandas(_contract_partition, e.schema), reliable_checkpoint)
    rounds = 0
    while not _is_star_forest(e):
        if rounds == max_iter:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "rounds — max_iter is far above the O(log n) bound, so this "
                "indicates a bug or non-numeric/NULL node ids"
            )
        rounds += 1
        # large-star over both directions: (v, m) for neighbors v > u
        bidir = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = bidir.groupBy("u").agg(F.min("v").alias("m"))
        mins = mins.select("u", F.least("m", F.col("u")).alias("m"))
        large = (
            bidir.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the (u > v)-oriented result: (v, m) per
        # smaller neighbor plus (u, m) for u itself
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        small = (
            large.join(mins2, "u")
            .select(F.col("v").alias("n"), F.col("m"))
            .unionByName(mins2.select(F.col("u").alias("n"), F.col("m")))
            .filter(F.col("n") != F.col("m"))
            .select(F.col("n").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        e = _truncate(small, reliable_checkpoint)
    return e.select(F.col("u").alias("node"), F.col("v").alias("component")).unionByName(
        e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    )


def component_summary(labels: DataFrame) -> DataFrame:
    """Per-component stats: size + sorted member list. The keeper for
    dedup retention is the component id itself (min member)."""
    return (
        labels.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("node")), lambda x: x.cast("string")
                ),
                ",",
            ).alias("member_ids"),
        )
        .orderBy("component")
    )
