"""Tracing from outside the program: spans around calls into each layer's
public functions, plus Spark jobs and stages read back from Spark's own
status store.

Nothing here is installed unless a ``Tracer`` is created and ``install``
is called, so an untraced run executes the program's own functions.

Spans are plain dicts kept in memory until the run ends:
``{"id", "parent", "root", "name", "layer", "start", "end", ...}`` with
epoch-second times (Spark reports its job and stage times on the same
clock, in milliseconds). Each op is a root span; a wrapped call opens a
child of the innermost open span on its thread, or of the op when its
thread has none (``build_derived_artifacts`` submits from pool threads).
Spark jobs hang under the deepest span that contains their submission,
and stages under their job.
"""

from __future__ import annotations

import functools
import sys
import threading
import time

#: (module, attribute, layer) of every wrapped public function. Modules
#: that bound one with ``from ... import`` are patched too.
TARGETS = [
    ("icebug_spark.session", "get_spark", "session"),
    ("icebug_spark.catalog", "build_derived_artifacts", "catalog"),
    ("icebug_spark.catalog", "table", "catalog"),
    ("icebug_spark.plans.iterate", "checkpoint", "plans"),
    ("icebug_spark.plans.iterate", "checkpoint_observe", "plans"),
    ("icebug_spark.plans.iterate", "pin", "plans"),
    ("icebug_spark.plans.iterate", "pin_observe", "plans"),
    ("icebug_spark.operators.components", "connected_components", "operators"),
    ("icebug_spark.operators.centrality", "pagerank", "operators"),
    ("icebug_spark.operators.traversal", "multi_source_bfs", "operators"),
    ("icebug_spark.operators.kcore", "k_core", "operators"),
    ("icebug_spark.llm.dedup", "exact_duplicates", "llm"),
    ("icebug_spark.llm.dedup", "ngram_jaccard_pairs", "llm"),
    ("icebug_spark.llm.dedup", "minhash_lsh_duplicates", "llm"),
    ("icebug_spark.llm.textstats", "text_stats", "llm"),
    ("icebug_spark.llm.similarity", "cosine_topk", "llm"),
    ("icebug_spark.streaming.dynamic2", "dyn_cc_update", "streaming"),
    ("icebug_spark.streaming.dynamic2", "dyn_bfs_update", "streaming"),
]

#: the lineage-truncation helpers; ``DataFrame.localCheckpoint`` calls
#: made inside one of them are the helper's own, not raw calls
HELPERS = {"checkpoint", "checkpoint_observe", "pin", "pin_observe"}

PRODUCT = "icebug_spark."


def _from_product(depth: int = 2) -> bool:
    return sys._getframe(depth).f_globals.get("__name__", "").startswith(PRODUCT)


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of it its children cover."""
    kids: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"]) - covered(s["start"], s["end"], kids.get(s["id"], ()))
        for s in spans
    }


class StatusCollector:
    """Reads finished jobs and their stages from Spark's status store.

    Jobs are attributed to an op by the range of job ids the scheduler
    handed out while the op ran, not by job group: jobs submitted from
    pool threads carry no group. Collecting after every op keeps the
    range far inside Spark's 1,000-job retention."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
        self._seen_stages: set[tuple[int, int]] = set()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def collect(self, j0: int, j1: int, now: float) -> tuple[list[dict], list[dict]]:
        self._bus.waitUntilEmpty()
        jobs, stages = [], []
        for jid in range(j0, j1):
            try:
                jd = self._store.job(jid)
            except Exception as exc:  # py4j wraps NoSuchElementException
                raise RuntimeError(f"job {jid} missing from the status store") from exc
            start = jd.submissionTime().get().getTime() / 1e3 if jd.submissionTime().isDefined() else now
            end = jd.completionTime().get().getTime() / 1e3 if jd.completionTime().isDefined() else now
            sids = jd.stageIds()
            jobs.append({"job": jid, "start": start, "end": max(end, start),
                         "status": jd.status().toString()})
            for i in range(sids.size()):
                sid = sids.apply(i)
                attempts = self._store.stageData(sid, False, None, False, self._no_quantiles)
                for k in range(attempts.size()):
                    d = attempts.apply(k)
                    key = (sid, d.attemptId())
                    if d.status().toString() == "SKIPPED" or key in self._seen_stages:
                        continue
                    self._seen_stages.add(key)
                    s0 = d.submissionTime().get().getTime() / 1e3 if d.submissionTime().isDefined() else start
                    s1 = d.completionTime().get().getTime() / 1e3 if d.completionTime().isDefined() else end
                    stages.append({
                        "job": jid, "stage": sid, "attempt": d.attemptId(),
                        "start": s0, "end": max(s1, s0),
                        "tasks": d.numTasks(), "failed_tasks": d.numFailedTasks(),
                        "run_s": d.executorRunTime() / 1e3,
                        "cpu_s": d.executorCpuTime() / 1e9,
                        "input_mb": d.inputBytes() / 1e6,
                        "shuffle_read_mb": d.shuffleReadBytes() / 1e6,
                        "shuffle_write_mb": d.shuffleWriteBytes() / 1e6,
                        "shuffle_records": d.shuffleReadRecords(),
                        "spill_mb": d.diskBytesSpilled() / 1e6,
                        "gc_s": d.jvmGcTime() / 1e3,
                    })
        return jobs, stages


class Tracer:
    def __init__(self):
        self.collector: StatusCollector | None = None
        self.spans: list[dict] = []
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._root: dict | None = None
        self._patches: list[tuple[object, str, object]] = []

    def bind(self, spark) -> StatusCollector:
        """Read jobs from ``spark``'s context (a new context restarts ids)."""
        self.collector = StatusCollector(spark)
        return self.collector

    # -- spans -------------------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def _open(self, name: str, layer: str, **attrs) -> dict:
        stack = self._stack()
        parent = stack[-1] if stack else self._root
        with self._lock:
            span = {"id": len(self.spans), "parent": parent["id"] if parent else None,
                    "root": self._root["id"] if self._root else None,
                    "name": name, "layer": layer, "start": time.time(), "end": None, **attrs}
            self.spans.append(span)
        stack.append(span)
        return span

    def _close(self, span: dict) -> None:
        span["end"] = time.time()
        self._stack().remove(span)

    def in_helper(self) -> bool:
        return any(s["name"] in HELPERS for s in self._stack())

    def begin_op(self, op: str, **attrs) -> dict:
        self._root = None
        root = self._open(op, "op", **attrs)
        root["root"] = root["id"]
        root["counts"] = {"checkpoint_calls": 0, "raw_checkpoints": 0, "local_frames": 0}
        self._root = root
        return root

    def end_op(self, j0: int, j1: int) -> dict:
        root = self._root
        self._close(root)
        self._root = None
        jobs, stages = self.collector.collect(j0, j1, root["end"])
        own = [s for s in self.spans if s["root"] == root["id"]]
        by_job = {}
        for j in jobs:
            holders = [s for s in own if s["start"] - 2e-3 <= j["start"] <= s["end"] + 2e-3]
            parent = max(holders, key=lambda s: s["start"]) if holders else root
            span = {"id": len(self.spans), "parent": parent["id"], "root": root["id"],
                    "name": f"job {j['job']}", "layer": "spark", **j}
            self.spans.append(span)
            by_job[j["job"]] = span
        for st in stages:
            self.spans.append({"id": len(self.spans), "parent": by_job[st["job"]]["id"],
                               "root": root["id"], "name": f"stage {st['stage']}.{st['attempt']}",
                               "layer": "spark", **st})
        return root

    # -- wrappers ----------------------------------------------------
    def _wrap(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer._root is None:
                return fn(*args, **kwargs)
            outer_helper = name in HELPERS and not tracer.in_helper()
            if outer_helper:
                tracer._root["counts"]["checkpoint_calls"] += 1
            span = tracer._open(name, layer, outer_helper=outer_helper)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(span)

        return traced

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        import importlib

        from pyspark.sql import SparkSession
        # the DataFrame class sessions create, which overrides the base's
        # localCheckpoint
        from pyspark.sql.classic.dataframe import DataFrame

        for modname, attr, layer in TARGETS:
            orig = getattr(importlib.import_module(modname), attr)
            traced = self._wrap(orig, attr, layer)
            for mod in list(sys.modules.values()):
                name = getattr(mod, "__name__", "") or ""
                if name.startswith(PRODUCT) and mod.__dict__.get(attr) is orig:
                    self._patch(mod, attr, traced)

        from icebug_spark.queries import registry
        from icebug_spark.streaming.updater import GraphUpdater

        self._patch(GraphUpdater, "process", self._wrap(GraphUpdater.process, "process", "streaming"))
        for q, (fn, sql) in list(registry.ALL.items()):
            self._patch_item(registry.ALL, q, (self._wrap(fn, q, "queries"), sql))

        tracer = self
        raw_lcp = DataFrame.localCheckpoint

        @functools.wraps(raw_lcp)
        def local_checkpoint(df, *args, **kwargs):
            if tracer._root is not None and _from_product() and not tracer.in_helper():
                tracer._root["counts"]["raw_checkpoints"] += 1
            return raw_lcp(df, *args, **kwargs)

        raw_cdf = SparkSession.createDataFrame

        @functools.wraps(raw_cdf)
        def create_data_frame(session, *args, **kwargs):
            if tracer._root is None or not _from_product():
                return raw_cdf(session, *args, **kwargs)
            tracer._root["counts"]["local_frames"] += 1
            span = tracer._open("createDataFrame", "operators")
            try:
                return raw_cdf(session, *args, **kwargs)
            finally:
                tracer._close(span)

        self._patch(DataFrame, "localCheckpoint", local_checkpoint)
        self._patch(SparkSession, "createDataFrame", create_data_frame)

    def _patch_item(self, mapping: dict, key, new) -> None:
        self._patches.append((mapping, key, mapping[key]))
        mapping[key] = new

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)


def op_metrics(spans: list[dict], root: dict) -> dict:
    """Per-layer metrics of one op from its spans."""
    own = [s for s in spans if s["root"] == root["id"]]
    jobs = [s for s in own if s["name"].startswith("job ")]
    stages = [s for s in own if s["name"].startswith("stage ")]
    wall = root["end"] - root["start"]
    busy = covered(root["start"], root["end"], [(j["start"], j["end"]) for j in jobs])

    def tot(key):
        return sum(s[key] for s in stages)

    def span_s(name=None, layer=None, outer_helper=None):
        return sum(s["end"] - s["start"] for s in own if s is not root
                   and (name is None or s["name"] == name)
                   and (layer is None or s["layer"] == layer)
                   and (outer_helper is None or s.get("outer_helper") == outer_helper))

    c = root["counts"]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": tot("tasks"),
        "spark.input_mb": tot("input_mb"),
        "spark.driver_s": wall - busy,
        "spark.job_busy_s": busy,
        "spark.executor_run_s": tot("run_s"),
        "spark.executor_cpu_s": tot("cpu_s"),
        "spark.shuffle_read_mb": tot("shuffle_read_mb"),
        "spark.shuffle_write_mb": tot("shuffle_write_mb"),
        "spark.shuffle_records": tot("shuffle_records"),
        "spark.spill_mb": tot("spill_mb"),
        "spark.gc_s": tot("gc_s"),
        "spark.failed_tasks": tot("failed_tasks"),
        "plans.checkpoint_calls": c["checkpoint_calls"],
        "plans.checkpoint_s": span_s(outer_helper=True),
        "plans.raw_checkpoints": c["raw_checkpoints"],
        "operators.local_frames": c["local_frames"],
        "operators.local_frame_s": span_s(name="createDataFrame"),
        "streaming.process_s": span_s(name="process"),
        "streaming.dyn_cc_s": span_s(name="dyn_cc_update"),
        "streaming.dyn_bfs_s": span_s(name="dyn_bfs_update"),
        "session.get_spark_s": span_s(name="get_spark"),
        "catalog.build_derived_artifacts_s": span_s(name="build_derived_artifacts"),
        "catalog.artifact_jobs": sum(1 for j in jobs if _under(spans, j, "build_derived_artifacts")),
    }


def _under(spans: list[dict], span: dict, name: str) -> bool:
    p = span["parent"]
    while p is not None:
        if spans[p]["name"] == name:
            return True
        p = spans[p]["parent"]
    return False


def layer_self_times(spans: list[dict], root: dict) -> dict[str, float]:
    """Self time summed per layer for one op's spans."""
    own = [s for s in spans if s["root"] == root["id"]]
    st = self_times(own)
    out: dict[str, float] = {}
    for s in own:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out
