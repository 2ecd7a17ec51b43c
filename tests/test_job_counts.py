"""Jobs-per-round regression pins for the observed-metric fusion.

A loop round costs: one checkpoint job (which carries the convergence
metric via DataFrame.observe) plus the mirror() broadcast builds for its
joins. Before the fusion each round ALSO paid a separate count/aggregate
action (~1 extra job per round, ~4.5 jobs/level on BFS). These tests pin
the marginal jobs-per-level so a reintroduced per-round action fails CI.
"""


def _ball_size(spark, e, probe: str) -> int:
    """Size of the ball around node 0 of the path ``e``, computed by one
    of the frontier-expansion kernel's callers."""
    if probe == "bfs":
        from icebug_spark.operators.traversal import bfs_distances

        return bfs_distances(e, 0).count()
    if probe == "reachable":
        from icebug_spark.operators.reachability import reachable_nodes

        return reachable_nodes(e, [0]).collect()[0]["n_reachable"]
    from icebug_spark.streaming.dynamic2 import affected_nodes

    batch = spark.createDataFrame(
        [("EDGE_ADDITION", 0, 1)], "type STRING, u BIGINT, v BIGINT"
    )
    return affected_nodes(e, batch, hops=30).count()


def _bfs_jobs(spark, depth: int, probe: str = "bfs") -> int:
    sc = spark.sparkContext
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(depth)], "src BIGINT, dst BIGINT"
    ).localCheckpoint(eager=True)
    group = f"{probe}_jobs_{depth}"
    sc.setJobGroup(group, "probe")
    n = _ball_size(spark, e, probe)
    sc.setJobGroup(None, None)
    assert n == depth + 1
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_bfs_marginal_jobs_per_level(spark):
    """Each extra BFS level must cost at most 4 extra jobs (1 fused
    checkpoint+metric, up to 2 broadcast builds, 1 slack). The pre-fusion
    shape cost ~4.5/level (separate frontier-count action per round).
    reachable_nodes and affected_nodes run the same kernel, so each of
    their extra levels must fit the same bound."""
    for probe in ("bfs", "reachable", "affected"):
        j4 = _bfs_jobs(spark, 4, probe)
        j12 = _bfs_jobs(spark, 12, probe)
        marginal = (j12 - j4) / 8.0
        assert marginal <= 4.0, (
            f"{probe} jobs/level regressed: {marginal} (j4={j4}, j12={j12})"
        )


def test_cc_marginal_jobs_per_round(spark):
    """Connected components: one fused checkpoint job + broadcast builds
    per min-label round; a path of length L converges in O(L) rounds."""
    from icebug_spark.operators.components import connected_components

    sc = spark.sparkContext

    def jobs(depth):
        eu = (
            spark.createDataFrame(
                [(i, i + 1) for i in range(depth)], "src BIGINT, dst BIGINT"
            )
            .union(
                spark.createDataFrame(
                    [(i + 1, i) for i in range(depth)], "src BIGINT, dst BIGINT"
                )
            )
            .localCheckpoint(eager=True)
        )
        group = f"cc_jobs_{depth}"
        sc.setJobGroup(group, "probe")
        n = connected_components(eu).where("component = 0").count()
        sc.setJobGroup(None, None)
        assert n == depth + 1
        return len(sc.statusTracker().getJobIdsForGroup(group))

    j4, j10 = jobs(4), jobs(10)
    marginal = (j10 - j4) / 6.0
    assert marginal <= 4.0, f"jobs/round regressed: {marginal} (j4={j4}, j10={j10})"
