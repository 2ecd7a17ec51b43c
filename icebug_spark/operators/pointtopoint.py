"""Point-to-point (s–t) shortest-path family: bidirectional BFS/Dijkstra,
A*, multi-target BFS/Dijkstra, Floyd-Warshall APSP, ReverseBFS.

Parity targets (reference ``distance/``):
- BidirectionalBFS.hpp:22  — alternating two-ball expansion, stop when
  the balls provably bracket the distance;
- BidirectionalDijkstra.hpp:20 — weighted variant;
- AStar.hpp:18 / AStarGeneral.hpp:28 — heuristic-pruned search; the
  heuristic is a per-node lower bound on distance-to-target;
- MultiTargetBFS.hpp:13 / MultiTargetDijkstra.hpp:14 — one source, a
  target set, early exit once every target is final;
- FloydWarshall.hpp:28 — all-pairs with negative-weight support and
  negative-cycle detection;
- ReverseBFS.hpp:16 — BFS on in-edges.

Spark-first shapes: every search is a frontier-restricted join loop (the
per-round shuffle is proportional to the wavefront, not the graph). The
unweighted searches run no loop of their own: ``bidirectional_bfs``
advances two ``traversal.bfs_levels`` generators (forward on G, backward
on Gᵀ) alternately, ``multi_target_bfs`` consumes one until every target
is levelled, and ``reverse_bfs`` / ``apsp`` call the BFS built on it;
Floyd-Warshall's O(n³) triple loop is re-expressed as ⌈log₂ n⌉ min-plus
matrix squarings (each a shuffle join via the GraphBLAS-lite kernels) —
the associative re-formulation that distributes, versus the inherently
sequential k-loop of the textbook algorithm. s–t searches are
latency-shaped (driver-coordinated rounds with scalar convergence
aggregates), which is the right trade: each round's *data* work is fully
distributed, and bidirectional halves the number of rounds.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from icebug_spark.operators import algebraic
from icebug_spark.operators.traversal import bfs_distances, bfs_levels, multi_source_bfs
from icebug_spark.plans.iterate import checkpoint, checkpoint_observe


def bidirectional_bfs(
    edges: DataFrame, source: int, target: int, max_hops: int = 60
) -> DataFrame:
    """Hop distance s→t (reference ``distance/BidirectionalBFS.hpp:22``).

    Grows a forward ball from ``source`` (out-edges) and a backward ball
    from ``target`` (in-edges), expanding the shallower side each round.
    Stop certificate: with balls complete to radii (ls, lt), any path of
    length L ≤ ls+lt has a node in both balls, so once the best meeting
    value μ = min(d_s(v)+d_t(v)) satisfies μ ≤ ls+lt it is exact.
    Returns one row (source, target, dist) — empty DataFrame if
    unreachable within ``max_hops``.
    """
    spark = edges.sparkSession
    if source == target:
        return spark.createDataFrame(
            [(source, target, 0)], "source BIGINT, target BIGINT, dist BIGINT"
        )
    e = checkpoint(edges.select("src", "dst"))
    er = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    # one bfs_levels generator per side (forward on G, backward on Gᵀ);
    # each side's ball is the union of the slices it has yielded, complete
    # to its radius
    sides = [
        bfs_levels(g, spark.createDataFrame([(int(v),)], "id BIGINT"), max_hops)
        for g, v in ((e, source), (er, target))
    ]
    balls = [next(side) for side in sides]
    radius = [0, 0]
    alive = [True, True]
    mu = None
    for _ in range(max_hops):
        if mu is not None and mu <= radius[0] + radius[1]:
            return spark.createDataFrame(
                [(source, target, int(mu))],
                "source BIGINT, target BIGINT, dist BIGINT",
            )
        if not any(alive):
            break  # both searches exhausted without bracketing: unreachable
        i = 0 if alive[0] and (radius[0] <= radius[1] or not alive[1]) else 1
        piece = next(sides[i], None)
        if piece is None:
            alive[i] = False
            continue
        radius[i] += 1
        # a node in both balls is first counted when its later side
        # settles it, so μ only needs the new slice against the other ball
        m = (
            piece.join(balls[1 - i].withColumnRenamed("dist", "d2"), "id")
            .agg(F.min(F.col("dist") + F.col("d2")).alias("mu"))
            .collect()[0]["mu"]
        )
        if m is not None:
            mu = m if mu is None else min(mu, m)
        balls[i] = balls[i].unionByName(piece)
    return spark.createDataFrame([], "source BIGINT, target BIGINT, dist BIGINT")


def reverse_bfs(edges: DataFrame, source: int, max_hops: int = 60) -> DataFrame:
    """Hop distances along in-edges (reference ``distance/ReverseBFS.hpp:16``)
    — BFS on the transpose. Returns (id, dist)."""
    er = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return bfs_distances(er, source, max_hops)


def _relax_rounds(e: DataFrame, dist: DataFrame):
    """One Bellman-Ford relax round from the active rows. Returns
    (new_dist, n_changed, min_active)."""
    active = dist.where(F.col("changed"))
    relax = (
        active.join(e, active.id == e.src)
        .select(
            F.col("dst").alias("id"),
            (F.col("dist") + F.col("weight")).alias("nd"),
        )
        .groupBy("id")
        .agg(F.min("nd").alias("nd"))
    )
    joined = dist.select("id", "dist").join(relax, "id", "full")
    new = joined.select(
        "id",
        F.least(
            F.coalesce(F.col("dist"), F.lit(float("inf"))),
            F.coalesce(F.col("nd"), F.lit(float("inf"))),
        ).alias("dist"),
        (
            F.col("dist").isNull()
            | (F.coalesce(F.col("nd"), F.lit(float("inf"))) < F.col("dist"))
        ).alias("changed"),
    )
    # changed-count and min-active-label ride the checkpoint job as
    # observed metrics — one action per relax round instead of two
    new, m = checkpoint_observe(
        new,
        F.sum(F.col("changed").cast("long")).alias("n"),
        F.min(F.when(F.col("changed"), F.col("dist"))).alias("mn"),
    )
    return new, int(m["n"] or 0), m["mn"]


def bidirectional_dijkstra(
    edges_weighted: DataFrame, source: int, target: int, max_iter: int = 60
) -> DataFrame:
    """Weighted s→t distance (reference
    ``distance/BidirectionalDijkstra.hpp:20``), non-negative weights.

    Forward relax rounds from ``source`` on G and backward rounds from
    ``target`` on Gᵀ run in lockstep; μ = min over doubly-labeled nodes
    of d_s+d_t. Stop when both sides have no active (improvable) rows —
    μ is then exact — or early once μ ≤ min-active-label of the forward
    side + min-active-label of the backward side (any still-improvable
    path must pass both wavefronts and costs at least that).
    Returns one row (source, target, dist DOUBLE); empty if unreachable.
    """
    spark = edges_weighted.sparkSession
    if source == target:
        return spark.createDataFrame(
            [(source, target, 0.0)], "source BIGINT, target BIGINT, dist DOUBLE"
        )
    e = checkpoint(edges_weighted.select("src", "dst", "weight"))
    er = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "weight"
    )
    df = spark.createDataFrame(
        [(int(source), 0.0, True)], "id BIGINT, dist DOUBLE, changed BOOLEAN"
    )
    db = spark.createDataFrame(
        [(int(target), 0.0, True)], "id BIGINT, dist DOUBLE, changed BOOLEAN"
    )
    nf = nb = 1
    mf = mb = 0.0
    for _ in range(max_iter):
        mu = (
            df.select("id", "dist")
            .join(db.select("id", F.col("dist").alias("dt")), "id")
            .agg(F.min(F.col("dist") + F.col("dt")).alias("mu"))
            .collect()[0]["mu"]
        )
        if nf == 0 and nb == 0:
            break
        if mu is not None and mf is not None and mb is not None and mu <= mf + mb:
            break
        if nf > 0:
            df, nf, mf = _relax_rounds(e, df)
        if nb > 0:
            db, nb, mb = _relax_rounds(er, db)
    mu = (
        df.select("id", "dist")
        .join(db.select("id", F.col("dist").alias("dt")), "id")
        .agg(F.min(F.col("dist") + F.col("dt")).alias("mu"))
        .collect()[0]["mu"]
    )
    if mu is None:
        return spark.createDataFrame(
            [], "source BIGINT, target BIGINT, dist DOUBLE"
        )
    return spark.createDataFrame(
        [(source, target, float(mu))], "source BIGINT, target BIGINT, dist DOUBLE"
    )


def astar(
    edges_weighted: DataFrame,
    source: int,
    target: int,
    heuristic: DataFrame | None = None,
    max_iter: int = 60,
) -> DataFrame:
    """A* s→t distance (reference ``distance/AStar.hpp:18`` /
    ``AStarGeneral.hpp:28``), non-negative weights.

    ``heuristic``: (id, h) per-node lower bound on distance-to-target
    (admissible); None ⇒ h≡0 (plain distributed Dijkstra). Each round
    prunes active rows with g(v)+h(v) ≥ μ (current best target label):
    with h admissible such rows cannot start an improving suffix, so
    pruning preserves exactness while shrinking the frontier join —
    the distributed analogue of the priority-queue skip.
    Returns one row (source, target, dist DOUBLE); empty if unreachable.
    """
    spark = edges_weighted.sparkSession
    if source == target:
        return spark.createDataFrame(
            [(source, target, 0.0)], "source BIGINT, target BIGINT, dist DOUBLE"
        )
    e = checkpoint(edges_weighted.select("src", "dst", "weight"))
    if heuristic is not None:
        h = checkpoint(heuristic.select(
            "id", F.col("h").cast("double").alias("h")
        ))
    dist = spark.createDataFrame(
        [(int(source), 0.0, True)], "id BIGINT, dist DOUBLE, changed BOOLEAN"
    )
    mu = float("inf")
    for _ in range(max_iter):
        active = dist.where(F.col("changed"))
        if heuristic is not None and mu != float("inf"):
            active = active.join(h, "id", "left").where(
                F.col("dist") + F.coalesce(F.col("h"), F.lit(0.0)) < F.lit(mu)
            ).select("id", "dist", "changed")
        relax = (
            active.join(e, active.id == e.src)
            .select(
                F.col("dst").alias("id"),
                (F.col("dist") + F.col("weight")).alias("nd"),
            )
            .groupBy("id")
            .agg(F.min("nd").alias("nd"))
        )
        joined = dist.select("id", "dist").join(relax, "id", "full")
        dist = checkpoint(joined.select(
            "id",
            F.least(
                F.coalesce(F.col("dist"), F.lit(float("inf"))),
                F.coalesce(F.col("nd"), F.lit(float("inf"))),
            ).alias("dist"),
            (
                F.col("dist").isNull()
                | (F.coalesce(F.col("nd"), F.lit(float("inf"))) < F.col("dist"))
            ).alias("changed"),
        ))
        row = dist.agg(
            F.sum(F.col("changed").cast("int")).alias("n"),
            F.min(F.when(F.col("id") == target, F.col("dist"))).alias("tdist"),
        ).collect()[0]
        if row["tdist"] is not None:
            mu = float(row["tdist"])
        if not row["n"]:
            break
    if mu == float("inf"):
        return spark.createDataFrame(
            [], "source BIGINT, target BIGINT, dist DOUBLE"
        )
    return spark.createDataFrame(
        [(source, target, mu)], "source BIGINT, target BIGINT, dist DOUBLE"
    )


def multi_target_bfs(
    edges: DataFrame, source: int, targets: list[int], max_hops: int = 60
) -> DataFrame:
    """Hop distances from ``source`` to each node of ``targets``
    (reference ``distance/MultiTargetBFS.hpp:13``); stops as soon as the
    whole target set is levelled. Returns (id, dist) for reached targets.
    """
    spark = edges.sparkSession
    e = checkpoint(edges.select("src", "dst"))
    tset = {int(t) for t in targets}
    t_df = spark.createDataFrame([(t,) for t in tset], "id BIGINT")
    seeds = spark.createDataFrame([(int(source),)], "id BIGINT")
    levels = []
    found = 0
    for h, piece in enumerate(bfs_levels(e, seeds, max_hops)):
        levels.append(piece)
        # level 0 is the source itself; a deeper slice's targets are read
        # off its already-materialized checkpoint (a plain scan, no
        # aggregation exchange: at most len(targets) rows)
        found += (
            len(piece.where(F.col("id").isin(list(tset))).select("id").collect())
            if h
            else int(source) in tset
        )
        if found == len(tset):
            break
    return (
        reduce(DataFrame.unionByName, levels)
        .join(t_df, "id", "leftsemi")
        .select("id", "dist")
    )


def multi_target_dijkstra(
    edges_weighted: DataFrame,
    source: int,
    targets: list[int],
    max_iter: int = 60,
) -> DataFrame:
    """Weighted distances source→targets (reference
    ``distance/MultiTargetDijkstra.hpp:14``), non-negative weights.
    Early exit once every target is labelled AND the cheapest active
    label ≥ the costliest target label (positive weights ⇒ no active
    node can still improve a target). Returns (id, dist DOUBLE)."""
    spark = edges_weighted.sparkSession
    e = checkpoint(edges_weighted.select("src", "dst", "weight"))
    tset = {int(t) for t in targets}
    t_df = spark.createDataFrame([(t,) for t in tset], "id BIGINT")
    dist = spark.createDataFrame(
        [(int(source), 0.0, True)], "id BIGINT, dist DOUBLE, changed BOOLEAN"
    )
    for _ in range(max_iter):
        dist, n_active, min_active = _relax_rounds(e, dist)
        if not n_active:
            break
        trow = (
            dist.join(t_df, "id", "leftsemi")
            .agg(F.count(F.lit(1)).alias("k"), F.max("dist").alias("mx"))
            .collect()[0]
        )
        if (
            trow["k"] == len(tset)
            and min_active is not None
            and trow["mx"] is not None
            and min_active >= trow["mx"]
        ):
            break
    return dist.join(t_df, "id", "leftsemi").select("id", "dist")


def floyd_warshall(
    edges_weighted: DataFrame,
    max_nodes: int = 4000,
    max_squarings: int | None = None,
) -> DataFrame:
    """All-pairs shortest paths (reference ``distance/FloydWarshall.hpp:28``)
    with negative-weight support and negative-cycle detection.

    The O(n³) k-loop is inherently sequential; the distributed
    re-formulation is min-plus matrix squaring — D ← D ⊕.min (D ⊗.+ D) —
    which reaches all ≤2^k-edge paths after k squarings, so ⌈log₂ n⌉
    rounds of the GraphBLAS-lite ``mxm`` suffice. Size-guarded: output is
    O(n²) rows, refuse beyond ``max_nodes`` (same stance as the
    reference's small/medium-graph scoping). Returns (src, dst, dist,
    in_negative_cycle) for reachable pairs; d(u,u)<0 flags u on a
    negative cycle, and its row distances are then lower bounds only.
    """
    import math

    e = edges_weighted.select("src", "dst", "weight")
    nodes = checkpoint(
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    n = nodes.count()
    if n > max_nodes:
        raise ValueError(
            f"floyd_warshall: {n} nodes > max_nodes={max_nodes}; "
            "O(n²) output — raise max_nodes explicitly if intended"
        )
    if max_squarings is None:
        max_squarings = max(1, math.ceil(math.log2(max(2, n)))) + 1
    d = checkpoint(
        e.groupBy(F.col("src").alias("row"), F.col("dst").alias("col"))
        .agg(F.min("weight").alias("value"))
        .union(nodes.select(F.col("id").alias("row"), F.col("id").alias("col"),
                            F.lit(0.0).alias("value")))
        .groupBy("row", "col").agg(F.min("value").alias("value"))
    )
    for _ in range(max_squarings):
        d2 = checkpoint(algebraic.e_wise_add(
            algebraic.mxm(d, d, algebraic.MIN_PLUS), d, algebraic.MIN_PLUS
        ))
        improved = (
            d2.join(
                d.select("row", "col", F.col("value").alias("old")),
                ["row", "col"],
                "left",
            )
            .where(
                F.col("old").isNull() | (F.col("value") < F.col("old") - 1e-12)
            )
            .limit(1)
            .count()
        )
        d = d2
        if improved == 0:
            break
    neg = d.where((F.col("row") == F.col("col")) & (F.col("value") < 0)).select(
        F.col("row").alias("src_neg")
    )
    return (
        d.join(neg, d.row == neg.src_neg, "left")
        .select(
            F.col("row").alias("src"),
            F.col("col").alias("dst"),
            F.col("value").alias("dist"),
            F.col("src_neg").isNotNull().alias("in_negative_cycle"),
        )
    )


def apsp(edges: DataFrame, max_nodes: int = 4000, max_hops: int = 60) -> DataFrame:
    """Full unweighted APSP surface (reference ``distance/APSP.hpp:23``):
    hop distances for every ordered reachable pair → (source, id, dist).
    Size-guarded (O(n²) output). Runs ONE multi-source frontier BFS with
    all nodes as sources — the per-round join carries the source key, so
    it distributes as n concurrent BFS sharing each shuffle."""
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    ids = [r["id"] for r in nodes.collect()]
    if len(ids) > max_nodes:
        raise ValueError(
            f"apsp: {len(ids)} nodes > max_nodes={max_nodes}; O(n²) output"
        )
    return multi_source_bfs(edges, ids, max_hops)
