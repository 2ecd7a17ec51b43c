"""BFS / SSSP via iterative frontier expansion.

Parity targets: reference ``distance/BFS.hpp:20`` (unweighted SSSP),
``distance/Dijkstra.hpp:22`` (weighted — Bellman-Ford-style relax loop in
the bulk-synchronous model), ``distance/MultiTargetBFS.hpp:13``,
``distance/SPSP.hpp:22`` / ``distance/APSP.hpp:23`` (multi-source).

Each round joins the *frontier only* (not the full distance table) against
edges — frontier-restricted joins keep per-round shuffle proportional to
the wavefront, the key property for scale-out BFS.

``bfs_levels`` is the package's one frontier-expansion loop; every
hop-bounded BFS or ball consumes its per-level slices:

- ``multi_source_bfs`` unions them — and through it ``bfs_distances``,
  ``reachability.reachable_nodes``, ``scd.random_bfs_community``,
  ``flow.edmonds_karp``'s source set, ``pointtopoint.apsp`` /
  ``reverse_bfs`` and the sampled-source distance estimators;
- ``dynamic2.affected_nodes`` unions an unkeyed run seeded from a batch's
  endpoints (also the invalidation ball of ``dynamic2.dyn_bfs_update``
  and ``dynamic3.dyn_sssp_update``);
- ``pointtopoint.multi_target_bfs`` stops consuming once every target is
  levelled, and ``pointtopoint.bidirectional_bfs`` advances a forward
  and a backward run alternately.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.plans.iterate import checkpoint, checkpoint_observe, mirror


def bfs_distances(
    edges: DataFrame, source: int, max_hops: int = 30
) -> DataFrame:
    """Single-source hop distances → ``(id, dist)`` (unreached omitted)."""
    df = multi_source_bfs(edges, [source], max_hops)
    return df.select("id", "dist")


def multi_source_bfs(
    edges: DataFrame, sources: list[int], max_hops: int = 30
) -> DataFrame:
    """Hop distances from each source → ``(source, id, dist)``.

    The source dimension rides along in the key, so k sources cost one
    BFS with k× state (reference APSP strategy distributed by source).
    """
    # de-dup up front: bfs_levels takes distinct seed rows
    seeds = edges.sparkSession.createDataFrame(
        [(s, s) for s in sorted({int(s) for s in sources})],
        "source BIGINT, id BIGINT",
    )
    return reduce(DataFrame.unionByName, bfs_levels(edges, seeds, max_hops))


def bfs_levels(
    edges: DataFrame, seeds: DataFrame, max_hops: int = 30
) -> Iterator[DataFrame]:
    """The frontier-expansion kernel: yields each BFS level's new-settler
    slice ``(*keys, id, dist)``, level 0 (the seeds) first, until the
    frontier is empty or ``max_hops`` levels have been expanded.

    ``seeds`` holds DISTINCT ``(*keys, id)`` rows; every column but
    ``id`` is a key (none, or e.g. ``source``/``seed``), and each key
    value runs its own BFS inside the same per-level join. Each slice is
    a zero-shuffle filter of an already-materialized checkpoint; a
    consumer that needs fewer levels just stops iterating (no further
    Spark work is submitted), and the full distance table is the union
    of the slices. Each level is one checkpoint action (its frontier
    count rides along as an observed metric) plus the frontier broadcast.
    """
    keys = [c for c in seeds.columns if c != "id"]
    e = edges.select("src", "dst")
    # Exact row counts of the frontier are free: the seed checkpoint and
    # every level's checkpoint count it as an observed metric, so the
    # size-adaptive mirror() never needs an extra job.
    state, m = checkpoint_observe(
        seeds.select(*keys, "id", F.lit(True).alias("frontier")),
        F.count(F.lit(1)).alias("nf"),
    )
    frontier_rows = int(m["nf"] or 0)
    # The hop distance is NOT loop state: every new node settled at level
    # h has dist == h, a driver-known literal — so the per-level exchange
    # carries only (*keys, id, frontier), ~1/3 fewer bytes than
    # (*keys, id, dist, frontier) rows on the LARGEST shuffles this
    # engine runs (q161's 0.15·n² settled sweep state).
    yield state.select(*keys, "id", F.lit(0).cast("long").alias("dist"))
    for h in range(1, max_hops + 1):
        if frontier_rows == 0:
            return
        # The frontier is vertex-bounded while edges are m-sized; without
        # a hint the checkpointed state has no stats, so Catalyst would
        # sort-merge and RESHUFFLE the whole edge table every round.
        # mirror() broadcasts the vertex side while it fits (measured ~2x
        # at sf0.1) and degrades to shuffle-hash past the configured cap.
        frontier = state.where(F.col("frontier"))
        nxt = (
            mirror(frontier, frontier_rows).join(e, frontier.id == e.src)
            .select(
                *keys,
                F.col("dst").alias("id"),
                F.lit(False).alias("seen"),
            )
        )
        # Fold the seen-set dedup into the level's aggregation instead of
        # a per-level anti-join: the state rides the same shuffle as the
        # expansion messages (carrier rows flagged seen=true), and a node
        # is NEW exactly when its group has no carrier row. Removes one
        # n-row broadcast/shuffle-hash build per level (2 Exchange → 1
        # beyond the frontier mirror); the seen rows the union adds to the
        # exchange replace the same rows crossing the wire as a broadcast.
        merged = (
            state.select(*keys, "id", F.lit(True).alias("seen"))
            .unionByName(nxt)
            .groupBy(*keys, "id")
            .agg(F.max(F.col("seen")).alias("old"))
            .select(*keys, "id", (~F.col("old")).alias("frontier"))
        )
        # the frontier count rides the checkpoint job as an observed
        # metric — one action per level, not checkpoint + count
        state, m = checkpoint_observe(
            merged,
            F.sum(F.col("frontier").cast("long")).alias("nf"),
        )
        frontier_rows = int(m["nf"] or 0)
        if frontier_rows:
            yield state.where(F.col("frontier")).select(
                *keys, "id", F.lit(h).cast("long").alias("dist")
            )


def sssp_weighted(
    edges_weighted: DataFrame, source: int, max_iter: int = 30
) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford relax rounds),
    parity with reference Dijkstra results (``distance/Dijkstra.hpp:22``)
    — the bulk-synchronous model has no priority queue, but converges to
    the same distances on non-negative weights. Returns ``(id, dist)``."""
    e = edges_weighted.select("src", "dst", "weight")
    spark = edges_weighted.sparkSession
    state = spark.createDataFrame([(int(source), 0.0)], ["id", "dist"]).withColumn(
        "changed", F.lit(True)
    )
    state = checkpoint(state)
    active_rows = 1
    for _ in range(max_iter):
        # active (changed-last-round) rows are vertex-bounded; the count
        # from the previous round's convergence check sizes mirror().
        active = state.where(F.col("changed"))
        relax = (
            mirror(active, active_rows).join(e, active.id == e.src)
            .select(
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("weight")).alias("dist"),
                F.lit(False).alias("seen"),
            )
        )
        # Same fusion as bfs_levels: the state rides the relax
        # shuffle as carrier rows (seen=true) and the per-round full-outer
        # join disappears into the min-aggregation — the carrier's min IS
        # the old distance, the messages' min the best relaxation.
        merged = (
            state.select("id", "dist", F.lit(True).alias("seen"))
            .unionByName(relax)
            .groupBy("id")
            .agg(
                F.min(F.when(F.col("seen"), F.col("dist"))).alias("sd"),
                F.min(F.when(~F.col("seen"), F.col("dist"))).alias("nd"),
            )
        )
        # active count rides the checkpoint job (observed metric)
        state, m = checkpoint_observe(
            merged.select(
                "id",
                F.least(F.coalesce(F.col("sd"), F.lit(float("inf"))),
                        F.coalesce(F.col("nd"), F.lit(float("inf")))).alias("dist"),
                (
                    F.col("sd").isNull()
                    | (F.coalesce(F.col("nd"), F.lit(float("inf"))) < F.col("sd"))
                ).alias("changed"),
            ),
            F.sum(F.col("changed").cast("long")).alias("na"),
        )
        active_rows = int(m["na"] or 0)
        if active_rows == 0:
            break
    return state.select("id", "dist")


def k_hop_neighborhood_sizes(
    edges: DataFrame, k: int, node_filter=None
) -> DataFrame:
    """|{w : dist(u,w) <= k, w != u}| per node u via k join rounds
    (reference ``distance/Volume.hpp:20`` ball volume / Q26 2-hop sizes).
    ``node_filter``: optional Column predicate over the start column to
    bound output (full APSP-closure is O(n·reach))."""
    e = edges.select("src", "dst")
    start = e
    if node_filter is not None:
        start = e.where(node_filter(F.col("src")))
    reach = start.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    frontier = reach
    for _ in range(k - 1):
        frontier = (
            frontier.join(e, frontier.w == e.src)
            .select("u", F.col("dst").alias("w"))
            .distinct()
        )
        reach = reach.union(frontier).distinct()
    return (
        reach.where(F.col("u") != F.col("w"))
        .groupBy(F.col("u").alias("id"))
        .agg(F.countDistinct("w").alias("reach"))
    )
