"""Dyn* incremental algorithms: per-batch maintenance of BFS distances,
connected components, and Katz centrality under GraphEvent batches, plus
AffectedNodes.

Parity targets (reference):
- DynBFS / DynSSSP      ``distance/DynBFS.hpp:19``, ``DynSSSP.hpp:24``
- DynConnectedComponents ``components/DynConnectedComponents.hpp:31``
- DynKatzCentrality      ``centrality/DynKatzCentrality.hpp:23``
- AffectedNodes          ``distance/AffectedNodes.hpp:17`` (620 LoC)

Model (SURVEY §1.5/§2.15): events are rows (ts, type, u, v, w); a batch is
everything between TIME_STEP markers. Each maintainer takes (state, batch)
→ new state, recomputing only from the AFFECTED frontier rather than from
scratch — the distributed analog of the reference's per-event updates.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators.traversal import bfs_levels
from icebug_spark.plans.iterate import checkpoint, checkpoint_observe


def _sym(e: DataFrame) -> DataFrame:
    # distinct matters: callers may already hold both arc directions, and
    # duplicated arcs silently double walk counts in dyn_katz_update
    # (min-based BFS/CC label updates only waste work)
    return (
        e.select("src", "dst")
        .union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .distinct()
    )


def apply_edge_events(edges: DataFrame, batch: DataFrame) -> DataFrame:
    """Apply one event batch to an edge table (additions + removals,
    last-wins within the batch by ts). Returns the new edge table."""
    adds = batch.where(F.col("type") == "EDGE_ADDITION").select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    dels = batch.where(F.col("type") == "EDGE_REMOVAL").select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    return (
        edges.select("src", "dst")
        .union(adds)
        .distinct()
        .join(dels, ["src", "dst"], "left_anti")
    )


def affected_nodes(
    edges_new: DataFrame, batch: DataFrame, hops: int = 2
) -> DataFrame:
    """AffectedNodes (``distance/AffectedNodes.hpp:17``): the k-hop
    neighborhood (in the UPDATED graph) of every event endpoint — the node
    set whose results may have changed. → (id)."""
    return _endpoint_ball(checkpoint(_sym(edges_new)), batch, hops)


def _endpoint_ball(eu: DataFrame, batch: DataFrame, hops: int) -> DataFrame:
    """The ``hops``-ball around the batch's event endpoints over the
    (already symmetric, materialized) arc table ``eu`` → (id): one
    unkeyed ``bfs_levels`` run seeded from the distinct endpoints."""
    seeds = (
        batch.select(F.col("u").alias("id"))
        .union(batch.select(F.col("v").alias("id")))
        .where(F.col("id").isNotNull())
        .distinct()
    )
    return reduce(
        DataFrame.unionByName,
        (lv.select("id") for lv in bfs_levels(eu, seeds, hops)),
    )


def dyn_bfs_update(
    dist: DataFrame, edges_new: DataFrame, batch: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """DynBFS (``distance/DynBFS.hpp:19``): maintain (id, dist) from a
    fixed source under a batch.

    Additions only shrink distances: seed the relax loop from the affected
    endpoints' current labels and propagate improvements. Removals can
    lengthen paths — detected by seeding affected nodes with +inf and
    re-relaxing from their still-settled neighbors (bounded recompute; the
    reference tracks the same 'affected' set per event)."""
    eu = checkpoint(_sym(edges_new))
    has_removal = batch.where(F.col("type") == "EDGE_REMOVAL").limit(1).count() > 0

    if has_removal:
        # invalidate the affected region, keep the rest as seeds; the
        # SOURCE (dist == 0) is never invalidated — it anchors the
        # re-relaxation even when the cone covers the whole graph
        aff = _endpoint_ball(eu, batch, max_rounds)
        dist = dist.join(aff, "id", "left_anti").unionByName(
            dist.where(F.col("dist") == 0)
        ).distinct()

    cur = checkpoint(dist)
    for _ in range(max_rounds):
        relaxed = (
            eu.join(cur.withColumnRenamed("id", "src").withColumnRenamed("dist", "ds"), "src")
            .select(F.col("dst").alias("id"), (F.col("ds") + 1).alias("nd"))
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        # the changed flag is computed inline during the merge (the old
        # shape re-joined merged against cur) and its count rides the
        # checkpoint job as an observed metric — one action per round
        nd = F.least(
            F.coalesce("dist", F.lit(1 << 60)), F.coalesce("nd", F.lit(1 << 60))
        )
        merged, m = checkpoint_observe(
            cur.join(relaxed, "id", "full_outer").select(
                "id",
                nd.alias("ndist"),
                (F.col("dist").isNull() | (nd < F.col("dist"))).alias("ch"),
            ),
            F.sum(F.col("ch").cast("long")).alias("nch"),
        )
        cur = merged.select("id", F.col("ndist").alias("dist"))
        if int(m["nch"] or 0) == 0:
            break
    return cur


def dyn_cc_update(
    comp: DataFrame, edges_new: DataFrame, batch: DataFrame, max_rounds: int = 30
) -> DataFrame:
    """DynConnectedComponents (``components/DynConnectedComponents.hpp:31``).
    Additions: min-label propagation seeded from the merged labels (only
    components touching an added edge move). Removals: may split a
    component — the affected components are relabeled from scratch
    (restricted recompute: only edges inside those components join the
    loop), everything else is untouched."""
    dels = batch.where(F.col("type") == "EDGE_REMOVAL")
    eu = checkpoint(_sym(edges_new))

    # normalize label coverage to the UPDATED graph's node set: an added
    # edge may introduce endpoints the old labeling never saw (they seed
    # as their own component and merge via propagation), and endpoints
    # that lost their last edge drop out (matching a static relabel)
    nodes = eu.select(F.col("src").alias("id")).distinct()
    comp = nodes.join(comp, "id", "left").select(
        "id", F.coalesce("component", F.col("id")).alias("component")
    )

    if dels.limit(1).count() > 0:
        # components touched by ANY event → full relabel restricted to
        # them. Removals may split; additions in the same batch may merge
        # two components a removal never touched — restricting to removal
        # endpoints alone would freeze that merge away.
        touched = (
            batch.select(F.col("u").alias("id"))
            .union(batch.select(F.col("v").alias("id")))
            .where(F.col("id").isNotNull())
            .join(comp, "id")
            .select("component")
            .distinct()
        )
        frozen = comp.join(touched, "component", "left_anti")
        active_nodes = comp.join(touched, "component").select("id")
        labels = active_nodes.withColumn("component", F.col("id"))
        active_edges = checkpoint(
            eu.join(active_nodes.withColumnRenamed("id", "src"), "src")
            .join(active_nodes.withColumnRenamed("id", "dst"), "dst")
        )
    else:
        frozen = None
        labels = comp
        active_edges = eu

    cur = checkpoint(labels)
    for _ in range(max_rounds):
        prop = (
            active_edges.join(cur.withColumnRenamed("id", "src").withColumnRenamed("component", "c"), "src")
            .select(F.col("dst").alias("id"), "c")
            .groupBy("id")
            .agg(F.min("c").alias("nc"))
        )
        # changed flag inline + observed count — one action per round
        nc = F.least(F.col("component"), F.coalesce("nc", F.col("component")))
        merged, m = checkpoint_observe(
            cur.join(prop, "id", "left").select(
                "id",
                nc.alias("ncomp"),
                (nc < F.col("component")).alias("ch"),
            ),
            F.sum(F.col("ch").cast("long")).alias("nch"),
        )
        cur = merged.select("id", F.col("ncomp").alias("component"))
        if int(m["nch"] or 0) == 0:
            break
    # frozen's anti-join on "component" moves the key column first — a
    # positional union would transpose (id, component); match by name
    return (
        frozen.select("id", "component").unionByName(cur.select("id", "component"))
        if frozen is not None
        else cur
    )


def dyn_weakly_cc_update(
    comp: DataFrame, edges_new_directed: DataFrame, batch: DataFrame,
    max_rounds: int = 30,
) -> DataFrame:
    """DynWeaklyConnectedComponents (reference
    ``components/DynWeaklyConnectedComponents.hpp`` via
    ``components.pyx:336``): maintain the WEAK components of a DIRECTED
    graph under an edge-event batch. Weak components are exactly the
    connected components of the symmetrized graph, so this is the named
    wrapper over :func:`dyn_cc_update` with both the updated edge table
    and the event batch symmetrized — direction never matters to the
    label propagation, and edge events touch the same endpoint set in
    either orientation. :func:`dyn_cc_update` already symmetrizes its
    edge table (``_sym``) and reads BOTH event endpoints for the touched
    set, so the directed case needs no extra transformation — this
    wrapper pins the reference name and the directed-input contract.
    → (id, component), min-id labels."""
    return dyn_cc_update(
        comp, edges_new_directed, batch, max_rounds=max_rounds
    )


def dyn_katz_update(
    edges_new: DataFrame,
    alpha: float = 0.05,
    iters: int = 8,
) -> DataFrame:
    """DynKatzCentrality (``centrality/DynKatzCentrality.hpp:23``): the
    reference maintains per-iteration walk counts; the DataFrame analog
    recomputes the truncated series x = Σ α^k A^k·1 on the updated edges —
    each term one join+groupBy, lineage checkpointed. The 'incremental'
    win in Spark comes from reusing the cached symmetrized edge table, not
    per-entry deltas. → (id, katz) 6dp."""
    eu = checkpoint(_sym(edges_new))
    x = checkpoint(
        eu.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("term", F.lit(1.0))
    )
    terms = [x]
    for _ in range(iters):
        x = checkpoint(
            eu.join(x.withColumnRenamed("id", "dst"), "dst")
            .groupBy(F.col("src").alias("id"))
            .agg((F.lit(alpha) * F.sum("term")).alias("term"))
        )
        terms.append(x)
    # one final aggregation over the (checkpointed) per-iteration term
    # tables — half the checkpoints of a per-iteration full-outer merge,
    # and one shuffle instead of `iters` sequential joins
    allt = terms[0]
    for t in terms[1:]:
        allt = allt.unionByName(t)
    katz = allt.groupBy("id").agg(F.sum("term").alias("katz"))
    return katz.select("id", F.round("katz", 6).alias("katz"))
