"""Size-adaptive vertex-mirror + reliable-checkpoint plumbing
(`plans/iterate.py`): the non-broadcast (shuffle-hash) path and the
reliable `checkpoint()` path must produce identical results to the
defaults — they are plan-shape choices, not semantics."""

import ast
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

# path: 0-1-2-3, plus isolated pair 4-5 (both directions)
EDGES = [(0, 1), (1, 0), (1, 2), (2, 1), (2, 3), (3, 2), (4, 5), (5, 4)]


@pytest.fixture()
def eu(spark):
    return spark.createDataFrame(EDGES, ["src", "dst"])


def _bfs_dists(eu, source=0):
    from icebug_spark.operators.traversal import bfs_distances

    return {r["id"]: r["dist"] for r in bfs_distances(eu, source).collect()}


def _cc(eu):
    from icebug_spark.operators.components import connected_components

    return {r["id"]: r["component"] for r in connected_components(eu).collect()}


EXPECT_BFS = {0: 0, 1: 1, 2: 2, 3: 3}
EXPECT_CC = {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4}


def test_mirror_broadcast_path(eu, spark):
    assert _bfs_dists(eu) == EXPECT_BFS
    assert _cc(eu) == EXPECT_CC


def test_mirror_shuffle_hash_path(eu, spark):
    """Force the past-the-cap branch: every mirror() call degrades to a
    shuffle-hash join; results must be unchanged."""
    spark.conf.set("spark.icebug.vertexBroadcastRows", "0")
    try:
        assert _bfs_dists(eu) == EXPECT_BFS
        assert _cc(eu) == EXPECT_CC
        from icebug_spark.operators.centrality import pagerank
        from icebug_spark.operators.traversal import sssp_weighted

        pr = {r["id"]: r["pagerank"] for r in pagerank(eu, max_iter=5).collect()}
        assert abs(sum(pr.values()) - 1.0) < 1e-6
        ew = eu.withColumn("weight", F.lit(1.0))
        d = {r["id"]: r["dist"] for r in sssp_weighted(ew, 0).collect()}
        assert d == {0: 0.0, 1: 1.0, 2: 2.0, 3: 3.0}
    finally:
        spark.conf.unset("spark.icebug.vertexBroadcastRows")


def test_mirror_plan_shapes(eu, spark):
    """The hint actually lands in the physical plan: broadcast under the
    cap, shuffled hash join over it (never a sort-merge of the edge
    side)."""
    from icebug_spark.plans.iterate import mirror

    state = spark.createDataFrame([(0, 0)], ["id", "dist"]).localCheckpoint()
    below = eu.join(mirror(state, 1), eu.src == state.id)
    assert "BroadcastHashJoin" in below._jdf.queryExecution().executedPlan().toString()
    spark.conf.set("spark.icebug.vertexBroadcastRows", "0")
    try:
        above = eu.join(mirror(state, 1), eu.src == state.id)
        plan = above._jdf.queryExecution().executedPlan().toString()
        assert "ShuffledHashJoin" in plan
        assert "SortMergeJoin" not in plan
    finally:
        spark.conf.unset("spark.icebug.vertexBroadcastRows")


class _NoInternalCreate:
    """JVM-session proxy whose internalCreateDataFrame always raises —
    forces pin() onto its public createDataFrame(JavaRDD) fallback."""

    def __init__(self, real):
        object.__setattr__(self, "_real", real)

    def internalCreateDataFrame(self, *a, **k):
        raise RuntimeError("forced: simulate a Spark version without the private API")

    def __getattr__(self, name):
        return getattr(object.__getattribute__(self, "_real"), name)


def test_pin_public_api_fallback(eu, spark):
    """The docstring admits the primary path leans on a private[sql]
    Spark API (`internalCreateDataFrame`); this exercises the public
    createDataFrame(JavaRDD) fallback explicitly — a Spark upgrade that
    breaks the primary path must silently land here and stay CORRECT:
    values round-trip, stats reset to leaf defaults, and a pin-per-round
    solver loop (the CG shape that OOM'd in round 4) still converges."""
    from icebug_spark.plans.iterate import pin

    real = spark._jsparkSession
    spark._jsparkSession = _NoInternalCreate(real)
    try:
        df = eu.join(
            eu.withColumnRenamed("dst", "mid").withColumnRenamed("src", "dst"),
            "dst",
        ).select("src", "mid")
        pinned = pin(df)
        assert sorted(map(tuple, pinned.collect())) == sorted(
            map(tuple, df.collect())
        )
        assert pinned.schema == df.schema
        # stats reset: repeated pin-join-pin rounds keep sizeInBytes at the
        # leaf default instead of compounding the join product
        x = pin(eu)
        for _ in range(4):
            x = pin(x.join(x.withColumnRenamed("dst", "d2"), "src").select("src", "dst"))
        stats = int(
            str(x._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        )
        default = int(spark.conf.get("spark.sql.defaultSizeInBytes", str(2**63 - 1)))
        assert stats <= default
        # a real solver loop through the fallback: CG on a tiny Laplacian.
        # Path 0-1-2-3: R_eff(0,3)=3, vol=2*(#edges)=8 → commute time 24.
        from icebug_spark.operators.numerics import commute_time_distances

        out = commute_time_distances(
            eu.withColumn("weight", F.lit(1.0)), [(0, 3)]
        )
        d = out.collect()[0]
        assert abs(d["commute_time"] - 24.0) < 1e-3
    finally:
        spark._jsparkSession = real


PACKAGE = Path(__file__).resolve().parent.parent / "icebug_spark"


def test_truncation_only_in_iterate():
    """Every lineage truncation goes through ``plans.iterate`` — a raw
    ``.localCheckpoint(`` / ``.checkpoint(`` call anywhere else would
    silently ignore ``spark.icebug.reliableCheckpoint`` and the
    ``PLAN_CAPTURE`` hook."""
    raw = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if rel == "plans/iterate.py":
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=rel)):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                raw.append(f"{rel}:{node.lineno}")
    assert raw == [], f"raw truncation outside plans/iterate.py: {raw}"


def _file_count(d) -> int:
    return sum(len(files) for _, _, files in os.walk(d))


def test_reliable_mode_reaches_every_loop_family(eu, spark, tmp_path):
    """With ``spark.icebug.reliableCheckpoint=true`` (the cluster
    fault-tolerance mode, SURVEY §7) one loop of each family — BFS,
    connected components, incremental label propagation, a ``pin``
    solver and a streaming batch — writes its state into the checkpoint
    dir, and returns what local mode returns. ``pin`` and
    ``checkpoint_observe`` also run on their own: each loop truncates
    through ``checkpoint`` as well, which would hide a helper that
    bypassed it."""
    from icebug_spark.operators.components import connected_components
    from icebug_spark.operators.numerics import commute_time_distances
    from icebug_spark.plans.iterate import checkpoint_observe, pin
    from icebug_spark.streaming.dynamic2 import apply_edge_events, dyn_cc_update
    from icebug_spark.streaming.updater import EVENT_SCHEMA, GraphUpdater

    removal = spark.createDataFrame(
        [("EDGE_REMOVAL", 1, 2), ("EDGE_REMOVAL", 2, 1)], "type STRING, u LONG, v LONG"
    )
    comp0 = connected_components(eu)
    eu_cut = apply_edge_events(eu, removal)
    events = spark.createDataFrame(
        [(0, "EDGE_ADDITION", 3, 4, 1.0), (1, "EDGE_REMOVAL", 0, 1, None)],
        EVENT_SCHEMA,
    )
    # one fresh updater per mode, built before either mode runs
    updaters = [
        GraphUpdater(eu.withColumn("weight", F.lit(1.0))) for _ in range(2)
    ]

    def one_batch():
        upd = updaters.pop()
        upd.process(events, 0)
        return sorted(map(tuple, upd.edges.collect()))

    families = {
        "bfs": lambda: _bfs_dists(eu),
        "connected_components": lambda: _cc(eu),
        "label_propagation": lambda: {
            r["id"]: r["component"]
            for r in dyn_cc_update(comp0, eu_cut, removal).collect()
        },
        "pin_solver": lambda: commute_time_distances(
            eu.withColumn("weight", F.lit(1.0)), [(0, 3)]
        ).collect(),
        "streaming_batch": one_batch,
        "pin": lambda: sorted(map(tuple, pin(eu).collect())),
        "checkpoint_observe": lambda: checkpoint_observe(
            eu, F.count(F.lit(1)).alias("n")
        )[1],
    }
    local = {name: run() for name, run in families.items()}
    assert local["bfs"] == EXPECT_BFS and local["connected_components"] == EXPECT_CC
    assert local["label_propagation"][0] != local["label_propagation"][3]
    assert abs(local["pin_solver"][0]["commute_time"] - 24.0) < 1e-3

    spark.sparkContext.setCheckpointDir(str(tmp_path))
    spark.conf.set("spark.icebug.reliableCheckpoint", "true")
    try:
        for name, run in families.items():
            before = _file_count(tmp_path)
            assert run() == local[name], name
            assert _file_count(tmp_path) > before, name
    finally:
        spark.conf.unset("spark.icebug.reliableCheckpoint")
