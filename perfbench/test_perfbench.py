"""Tests of the benchmark itself (generators, tracing, compare tool).

    python3 -m pytest perfbench/test_perfbench.py -q

The Spark tests start one ``local[4]`` session and take about a
minute.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import compare  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_inputs_repeat_per_seed_and_differ_across_seeds(workload, tmp_path):
    a = gen.ensure_inputs(workload, 7, str(tmp_path / "a"))
    b = gen.ensure_inputs(workload, 7, str(tmp_path / "b"))
    c = gen.ensure_inputs(workload, 8, str(tmp_path / "a"))
    assert gen.dir_digest(a) == gen.dir_digest(b)
    assert gen.dir_digest(a) != gen.dir_digest(c)
    for name in os.listdir(a):
        with open(os.path.join(a, name), "rb") as fa, open(os.path.join(b, name), "rb") as fb:
            assert fa.read() == fb.read(), name


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        # overlapping children cover [1, 5]; the third is clipped at 10
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},
        {"id": 4, "parent": 2, "start": 2.5, "end": 3.0},
    ]
    st = tracing.self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 2)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(0.5)
    assert tracing.covered(0, 10, []) == 0


def test_compare_counts_paired_wins():
    def rec(seed, wall):
        return {"workload": "w", "seed": seed, "trace": 0, "e2e": {"wall_s": wall},
                "families": {}, "ops": {}}

    base = {("w", s): [rec(s, 10.0 + 0.1 * s)] for s in range(10)}
    new = {("w", s): [rec(s, 9.0 + 0.1 * s if s < 9 else 30.0)] for s in range(10)}
    (row,) = compare.compare(base, new)
    assert row["pairs"] == 10 and row["win_share"] == pytest.approx(0.9)
    assert row["verdict"] == "gain"
    # eight wins in ten pairs is not enough
    new[("w", 8)] = [rec(8, 30.0)]
    (row,) = compare.compare(base, new)
    assert row["win_share"] == pytest.approx(0.8) and row["verdict"] == "-"


# -- Spark ------------------------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    run.configure_env()
    from icebug_spark.session import get_spark

    s = get_spark("perfbench-test")
    yield s
    s.stop()


@pytest.fixture(scope="module")
def headline(spark):
    from workloads import Headline

    wl = Headline(gen.ensure_inputs("headline", 3, os.path.join(run.STATE, "inputs")))
    wl.setup(spark)
    return wl


def _originals():
    from pyspark.sql import SparkSession
    from pyspark.sql.classic.dataframe import DataFrame

    from icebug_spark.plans import iterate
    from icebug_spark.queries import registry

    return (iterate.checkpoint, iterate.checkpoint_observe, DataFrame.localCheckpoint,
            SparkSession.createDataFrame, registry.ALL["q30_bfs_from_0"][0])


def test_jobs_do_not_depend_on_tracing(spark, headline):
    before = _originals()
    ops = dict(headline.ops())
    coll = tracing.StatusCollector(spark)
    for op in ("q03_join3_nation_revenue", "q28_connected_components", "q30_bfs_from_0",
               "llm_ngram_jaccard_pairs"):
        ops[op]()  # first run: plans compiled, artifacts cached
        j0 = coll.next_job_id()
        plain = ops[op]()
        n_plain = coll.next_job_id() - j0
        assert _originals() == before  # nothing installed while untraced

        tr = tracing.Tracer()
        tr.bind(spark)
        tr.install()
        try:
            j0 = coll.next_job_id()
            tr.begin_op(op)
            traced = ops[op]()
            root = tr.end_op(j0, coll.next_job_id())
        finally:
            tr.uninstall()
        assert _originals() == before
        m = tracing.op_metrics(tr.spans, root)
        assert m["spark.jobs"] == n_plain > 0, op
        assert run.table_digest(plain) == run.table_digest(traced)
        layers = {s["layer"] for s in tr.spans}
        assert {"op", "queries", "spark"} <= layers
        if op == "q30_bfs_from_0":
            # the BFS loop checkpoints through the helpers and seeds its
            # frontier from a driver-side list
            assert m["plans.checkpoint_calls"] > 0
            assert m["operators.local_frames"] >= 1
            assert "operators" in layers and "plans" in layers


def test_artifact_jobs_from_pool_threads_carry_no_job_group(spark, headline):
    """Why jobs are attributed by id range: ``build_derived_artifacts``
    submits from pool threads, which do not inherit the caller's group."""
    from icebug_spark.catalog import build_derived_artifacts

    coll = tracing.StatusCollector(spark)
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-test", "group check")
    try:
        j0 = coll.next_job_id()
        # a new directory key makes the session rebuild its artifacts
        build_derived_artifacts(spark, os.path.join(headline.inputs, ""))
        j1 = coll.next_job_id()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs, _ = coll.collect(j0, j1, 0.0)
    assert len(jobs) == j1 - j0 > 0
    store = sc._jsc.sc().statusStore()
    groups = [store.job(j).jobGroup() for j in range(j0, j1)]
    grouped = [g.isDefined() and g.get() == "perfbench-test" for g in groups]
    assert any(grouped) and not all(grouped)


def test_tracing_an_update_batch_submits_no_jobs_of_its_own(spark):
    """A batch's job count is not exact (identical replays of one batch
    ran 130 and 132 jobs, all succeeded), so equality with tracing on and
    off is asserted on the headline ops above; here the tracer's own
    bookkeeping is shown to submit no job."""
    from workloads import GraphUpdates

    wl = GraphUpdates(gen.ensure_inputs("graph_updates", 3, os.path.join(run.STATE, "inputs")))
    wl.setup(spark)
    wl.before_pass()
    (_, process), = wl.ops()
    tr = tracing.Tracer()
    coll = tr.bind(spark)
    tr.install()
    try:
        j0 = coll.next_job_id()
        tr.begin_op("batch")
        process()
        j1 = coll.next_job_id()
        root = tr.end_op(j0, j1)
        m = tracing.op_metrics(tr.spans, root)
    finally:
        tr.uninstall()
    assert coll.next_job_id() == j1  # collecting and closing the op ran no job
    assert m["spark.jobs"] == j1 - j0 > 0
    assert m["streaming.process_s"] >= m["streaming.dyn_cc_s"] > 0
    # GraphUpdater.process and dyn_cc_update truncate lineage with
    # DataFrame.localCheckpoint directly, dynamic2's loops through the
    # helpers
    assert m["plans.raw_checkpoints"] > 0 and m["plans.checkpoint_calls"] > 0
    assert wl.check("batch", wl.outputs({"batch": None})["batch"]) is None
