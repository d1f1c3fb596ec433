"""Connected components over the near-duplicate pair graph (iterative).

The dedup endgame: after MinHash-LSH emits near-dup *pairs*, documents must
be clustered so each group keeps one canonical row.  That is connected
components — a genuinely iterative algorithm (not SQL-expressible as one
query), implemented as alternating large-star / small-star label
propagation (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14 — the standard formulation for this problem at scale):

    repeat until no label changes:
        label(v) <- min(label(v), min over neighbors' labels)
    (propagated through the edge list by two joins per round)

Convergence is O(log d) rounds for diameter d; near-dup graphs are
near-cliques, so 2-3 rounds close them.  Each round is one shuffle per
join; the label frame is persisted per round and the loop exits from a
driver-side count of changed labels (the only driver decision — O(1) data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 20) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node id.

    Node ids must be orderable (bigint here).  Undirected semantics.
    """
    # every round joins the edge set again: checkpointed once, so the
    # rounds read it instead of re-running the edges' whole lineage (for
    # dedup_components, the MinHash pair stage)
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
           .distinct()
           .localCheckpoint(eager=True))
    labels = (sym.select(F.col("a").alias("node"))
              .distinct()
              .withColumn("component", F.col("node")))

    for _ in range(max_iter):
        # neighbor-minimum pass: each node adopts the smallest component
        # label among itself and its neighbors
        nbr_min = (sym.join(labels, sym["b"] == labels["node"])
                   .groupBy(F.col("a").alias("node"))
                   .agg(F.min("component").alias("nbr_component")))
        stepped = (labels.join(nbr_min, "node", "left")
                   .select("node",
                           F.least(F.col("component"),
                                   F.coalesce(F.col("nbr_component"),
                                              F.col("component")))
                           .alias("component")))
        # pointer jumping (label-of-label): plain neighbor propagation is
        # O(diameter) rounds; jumping through the current label makes the
        # loop O(log n) — long chain graphs converge in a handful of rounds
        jumped = (stepped.alias("x")
                  .join(stepped.select(
                      F.col("node").alias("jnode"),
                      F.col("component").alias("jcomp")).alias("y"),
                      F.col("x.component") == F.col("jnode"), "left")
                  .select(F.col("x.node").alias("node"),
                          F.least(F.col("x.component"),
                                  F.coalesce(F.col("jcomp"),
                                             F.col("x.component")))
                          .alias("component")))
        # localCheckpoint truncates the logical plan: without it each
        # round's plan embeds the whole history and the optimizer blows
        # the driver heap by ~round 10 (the classic iterative-Spark trap;
        # on a cluster this would be checkpoint() to reliable storage)
        updated = jumped.localCheckpoint(eager=True)
        changed = (updated.alias("u")
                   .join(labels.alias("l"), "node")
                   .filter(F.col("u.component") != F.col("l.component"))
                   .count())
        labels = updated
        if changed == 0:
            break
    else:
        raise RuntimeError(f"connected_components: no fixpoint in "
                           f"{max_iter} rounds")
    return labels


def dedup_canonical(doc_pairs: DataFrame, docs: DataFrame,
                    id_col: str = "doc_id") -> DataFrame:
    """pairs(doc_a, doc_b) + docs -> docs annotated with (component,
    is_canonical); canonical = smallest doc_id of the component."""
    comp = connected_components(doc_pairs, "doc_a", "doc_b")
    joined = docs.join(comp.withColumnRenamed("node", id_col), id_col, "left")
    component = F.coalesce(F.col("component"), F.col(id_col))
    return (joined.withColumn("component", component)
            .withColumn("is_canonical",
                        (F.col(id_col) == F.col("component")).cast("int")))
