"""G3 — identity canonicalization: connected components over sameAs edges.

The reference never computes transitive identity — SAME_AS links stay
pairwise (load_indian_affairs_agents.py:135-141 and the linkers). The
north star requires real canonicalization: components of the sameAs
graph, canonical id = min(component), triples rewritten onto canonical
ids.

Spark shape: iterative min-label propagation expressed as DataFrame
self-joins with localCheckpoint() per round to cut lineage (the
documented convergence pattern for DataFrame-only connected components;
equivalent to the small-star step of Kiveris et al.'s "Connected
Components in MapReduce and Beyond", applied symmetrically). Components
produced by entity linking are tiny (stars/chains of 2-4 nodes), so
convergence is 2-4 rounds; the checkpoint bounds plan growth at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(edges: DataFrame, src: str = "subj",
                         dst: str = "obj", max_iter: int = 25,
                         strict: bool = True) -> tuple[DataFrame, dict]:
    """(labels, stats): labels is (node, component) with component =
    lexicographic min node id reachable in the undirected graph; stats
    is {"rounds_run": int, "converged": bool}, which callers copy into
    their stage _metrics — max_iter must never truncate SILENTLY
    (round-4 VERDICT item 6: "no silent caps" applies to iteration caps
    too).

    Min-label propagation converges in O(diameter) rounds — fine for
    linking components (stars/chains, 2-4 rounds). For deeper graphs
    (duplicate_groups template-cluster chains) a pointer-jumping step
    (labels re-mapped through their component's OWN label, the
    path-halving idea) kicks in after round 3, making convergence
    O(log diameter) without taxing the common shallow case. If the
    graph still hasn't converged at max_iter, raise (strict=True) —
    never silently return partial components; strict=False reports
    converged=False in stats instead for callers that audit.

    Per-round checkpoints are lazy: the convergence check's count() (or
    the next round's join) materializes each round's labels inside a
    job that runs anyway, instead of a dedicated materialization job per
    round. Interleaved 3x(1 cold + 4 warm) A/B on kg_same_as_components
    sf0.1 (BENCH.md): warm median 4.01 -> 3.08 s against eager
    checkpoints, identical output."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = (e.unionByName(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
           .where(F.col("a") != F.col("b"))
           .distinct()
           .localCheckpoint(eager=False))

    labels = (sym.select(F.col("a").alias("node"))
              .distinct()
              .withColumn("component", F.col("node"))
              .localCheckpoint(eager=False))

    converged = False
    rounds_run = 0
    for it in range(max_iter):
        # component candidates arriving over edges
        msgs = (sym.join(labels, sym.a == labels.node)
                .select(F.col("b").alias("node"),
                        F.col("component")))
        new_labels = (labels.select("node", "component").unionByName(msgs)
                      .groupBy("node")
                      .agg(F.min("component").alias("component")))
        if it >= 3:
            # pointer jumping: follow the label one extra hop (component
            # is itself a node, so it has a label). Each round then
            # roughly doubles propagation distance — a diameter-d chain
            # finishes in ~3 + log2(d) rounds instead of d.
            comp = new_labels.select(F.col("node").alias("c_node"),
                                     F.col("component").alias("c_comp"))
            new_labels = (new_labels
                          .join(comp,
                                new_labels.component == comp.c_node, "left")
                          .select("node",
                                  F.coalesce("c_comp", "component")
                                  .alias("component")))
        new_labels = new_labels.localCheckpoint(eager=False)
        old = labels
        labels = new_labels
        rounds_run = it + 1
        # entity-linking components are stars/short chains: round 1 always
        # changes labels, so skip that convergence action (each check is a
        # full extra job — pure serial latency)
        if it == 0:
            continue
        prev = old.select("node", F.col("component").alias("old_component"))
        changed = (new_labels.join(prev, "node")
                   .where(F.col("component") != F.col("old_component"))
                   .limit(1).count())
        if changed == 0:
            converged = True
            break
    if strict and not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds the iteration budget); raise "
            "max_iter or pass strict=False to audit via the returned stats")
    return labels, {"rounds_run": rounds_run, "converged": converged}


def canonical_mapping(same_as: DataFrame) -> tuple[DataFrame, dict]:
    """((node, canonical) for every node touched by a sameAs edge, the
    connected_components stats)."""
    labels, stats = connected_components(same_as)
    return (labels.select("node", F.col("component").alias("canonical")),
            stats)


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subj/obj onto canonical ids; drop self-loops created by the
    rewrite; keep the best evidence per (subj, pred, obj)."""
    m_subj = mapping.select(F.col("node").alias("subj"),
                            F.col("canonical").alias("subj_canon"))
    m_obj = mapping.select(F.col("node").alias("obj"),
                           F.col("canonical").alias("obj_canon"))
    out = (triples
           .join(m_subj, "subj", "left")
           .join(m_obj, "obj", "left")
           .select(F.coalesce("subj_canon", "subj").alias("subj"),
                   "pred",
                   F.coalesce("obj_canon", "obj").alias("obj"),
                   "confidence", "evidence"))
    out = out.where((F.col("pred") == "sameAs") | (F.col("subj") != F.col("obj")))
    return (out.groupBy("subj", "pred", "obj")
            .agg(F.max("confidence").alias("confidence"),
                 F.min("evidence").alias("evidence")))
