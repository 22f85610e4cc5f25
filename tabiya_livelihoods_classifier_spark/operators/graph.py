"""Iterative graph operators: transitive ancestor closure (SURVEY J8).

Semantic ancestor: the reference's memoized DAG-chain DFS with cycle cut
(3_2b_clean_LLM_create_opp-db.py:473-532).

`transitive_ancestors` is driver first, like
`operators/clustering.connected_components`: ONE bounded collect of the
edge set, gated on the same byte budget (`DRIVER_STITCH_MAX_BYTES`), then
a per-node DFS on the driver that gives up as soon as the output passes
that budget. A closure that fits comes back as one Arrow-built
`LocalRelation`: one job, no checkpoint, no upstream lineage.

Otherwise the distributed form is an iterative self-join to fixpoint with
pointer doubling: closure ∪ (closure ⨝ closure), deduped each round, each
round's closure RELIABLY checkpointed (lineage truncation is structurally
required — the closure feeds both union branches, so the plan would double
per round; reliable checkpoint survives executor loss, unlike
localCheckpoint). Cycles terminate on both paths because the
reachable-pair set is finite (the visited set / the dedupe play the
reference's cycle cut); the doubling loop takes O(log longest path)
rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tabiya_livelihoods_classifier_spark.operators import clustering
from tabiya_livelihoods_classifier_spark.session import (
    arrow_frame,
    ensure_checkpoint_dir,
)


def weighted_ancestors(
    edges: DataFrame, max_depth: int = 3
) -> DataFrame:
    """M9 graph-distance kernel support (matching_config.json:5-12):
    (node, ancestor, dist) with dist = MINIMUM summed edge weight over
    child->parent paths of at most `max_depth` edges.

    `edges` columns: child, parent, weight. Depth is bounded (reference
    distance_cutoff = 3), so this is `max_depth - 1` self-joins with no
    iteration-to-fixpoint and no checkpointing — lineage stays shallow and
    every join is a plain equi-join Catalyst can reorder. Kernel scoring
    (exp(-lambda * d)) is left to the caller so the closure stays reusable.
    """
    base = edges.select(
        F.col("child").alias("node"),
        F.col("parent").alias("ancestor"),
        F.col("weight").cast("double").alias("dist"),
    )
    paths = base
    frontier = base
    for _ in range(max_depth - 1):
        frontier = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.ancestor") == F.col("e.child"))
            .select(
                F.col("f.node").alias("node"),
                F.col("e.parent").alias("ancestor"),
                (F.col("f.dist") + F.col("e.weight")).alias("dist"),
            )
        )
        paths = paths.union(frontier)
    return paths.groupBy("node", "ancestor").agg(F.min("dist").alias("dist"))


def kernel_scores(
    ancestors: DataFrame, lam: float = 0.7
) -> DataFrame:
    """exp(-lambda * dist) kernel over a weighted closure
    (matching_config.json: kernel exp(-lambda*d), lambda=0.7)."""
    return ancestors.withColumn("score", F.exp(-lam * F.col("dist")))


def _driver_closure(pairs, max_rows: float) -> list | None:
    """(node, ancestor) for every ancestor reachable from each node over the
    (child, parent) `pairs`; None as soon as the output passes `max_rows`."""
    parents: dict = {}
    for child, parent in pairs:
        parents.setdefault(child, set()).add(parent)
    out: list = []
    for node, first in parents.items():
        seen: set = set()
        stack = list(first)
        while stack:
            a = stack.pop()
            if a not in seen:
                seen.add(a)
                stack.extend(parents.get(a, ()))
        out.extend((node, a) for a in seen)
        if len(out) > max_rows:
            return None
    return out


def transitive_ancestors(edges: DataFrame, max_iter: int = 30) -> DataFrame:
    """(node, ancestor) for every ancestor reachable via child->parent edges.

    `edges` columns: child, parent.
    """
    # self-sufficient reliable-checkpoint dir for the doubling fallback on
    # whatever session the caller passed (cf. connected_components)
    ensure_checkpoint_dir(edges.sparkSession)
    base = edges.select(
        F.col("child").alias("node"), F.col("parent").alias("ancestor")
    )
    rows, est = clustering.bounded_collect(base)
    budget = clustering.DRIVER_STITCH_MAX_BYTES
    if est <= budget:
        # output rows carry the same ids as the edges: same width per row
        closure = _driver_closure(rows, budget * len(rows) / est if rows else 0)
        if closure is not None:
            return arrow_frame(edges.sparkSession, closure, base.schema)
    return _doubling_closure(base, max_iter)


def _doubling_closure(base: DataFrame, max_iter: int) -> DataFrame:
    """The checkpointed pointer-doubling loop over the deduped edges."""
    closure = base.dropDuplicates().checkpoint(eager=True)
    n = closure.count()
    for _ in range(max_iter):
        # pointer doubling: compose the closure WITH ITSELF (not with the
        # base edges), so reachable path length squares per round —
        # fixpoint in O(log longest-path) checkpointed rounds instead of
        # O(longest-path). Each round's self-join is bounded by the
        # deduped closure size, which is the final output size.
        step = (
            closure.alias("c1")
            .join(
                closure.alias("c2"),
                F.col("c1.ancestor") == F.col("c2.node"),
            )
            .select(
                F.col("c1.node").alias("node"),
                F.col("c2.ancestor").alias("ancestor"),
            )
        )
        # reliable checkpoint: `closure` appears three times in the new
        # plan (union branch + both join branches), so without lineage
        # truncation the plan would triple per round; the reliable variant
        # survives executor loss, unlike localCheckpoint.
        new_closure = closure.union(step).dropDuplicates().checkpoint(
            eager=True
        )
        new_n = new_closure.count()
        closure = new_closure
        if new_n == n:
            break
        n = new_n
    return closure
