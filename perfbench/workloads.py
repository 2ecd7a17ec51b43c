"""The workloads: set-up, the ops one pass runs, and how metric
families group the ops.

A workload object is created per run. ``setup(spark)`` does the one-time
preparation through the program's API and is measured as ``setup_s``; each
op is a zero-argument callable that runs one call into the program and
collects its result to the driver (as a user of the result would) and
returns it as a pyarrow table. ``check`` compares the collected results
with independent references after the last pass.
"""

from __future__ import annotations

import json

import pyarrow as pa
from pyspark.sql import functions as F

import refs

#: A representative of each family of bench.py's 20 headline ops, in its
#: order and with its MinHash override, then the n-gram pairs at t=0.8.
#: The cheaper look-alikes (q01, q02, q07, q16, q18, q24, q27, text
#: stats) are left out to keep a run inside the benchmark's time budget.
#: Registry names are run through ``registry.ALL``; the others call the
#: operator directly.
HEADLINE_OPS = [
    "q03_join3_nation_revenue", "q08_window_running_sum", "q17_events_sessionization",
    "q21_jaccard", "q25_local_clustering",
    "q28_connected_components", "q29_pagerank", "q30_bfs_from_0",
    "llm_dedup_exact", "llm_ngram_jaccard_pairs", "minhash_lsh",
    "llm_embedding_topk", "ngram_pairs_t08",
]


def collect(df) -> pa.Table:
    return df.toArrow()


class Workload:
    """Base: ``families`` maps a family metric to the ops it sums."""

    name = ""
    families: dict[str, list[str]] = {}
    #: ops whose output pairs feed ``llm.pairs_yield``
    pair_ops: tuple[str, ...] = ()
    #: passes an untraced run makes at least
    min_passes = 2
    #: each pass consumes the next batch of a stream, so passes differ
    batched = False

    def __init__(self, inputs: str):
        self.inputs = inputs

    def setup(self, spark) -> None:
        raise NotImplementedError

    def ops(self) -> list[tuple[str, callable]]:
        raise NotImplementedError

    def before_pass(self) -> None:
        """Untimed preparation of the next pass."""

    def exhausted(self) -> bool:
        return False

    def outputs(self, results: dict[str, pa.Table]) -> dict[str, object]:
        """What to check after a pass, from its ops' results by name."""
        return results

    def check(self, op: str, result) -> str | None:
        """None when ``result`` is right, else a one-line reason."""
        raise NotImplementedError


class Headline(Workload):
    """bench.py's shape: ``build_derived_artifacts`` as set-up, then its
    headline ops (a representative of each family) over one sf-style
    directory."""

    name = "headline"
    families = {
        "relational_s": HEADLINE_OPS[:3],
        "graph_pass_s": HEADLINE_OPS[3:5],
        "cc_s": ["q28_connected_components"],
        "pagerank_s": ["q29_pagerank"],
        "bfs_s": ["q30_bfs_from_0"],
        "dedup_s": ["llm_dedup_exact", "minhash_lsh"],
        "ngram_pairs_s": ["llm_ngram_jaccard_pairs"],
        "ngram_pairs_strict_s": ["ngram_pairs_t08"],
    }
    pair_ops = ("llm_ngram_jaccard_pairs", "ngram_pairs_t08")

    def setup(self, spark) -> None:
        from icebug_spark import catalog

        self.spark = spark
        catalog.build_derived_artifacts(spark, self.inputs)

    def ops(self):
        from icebug_spark.catalog import table
        from icebug_spark.llm import dedup
        from icebug_spark.queries import registry

        def docs():
            return table(self.spark, self.inputs, "documents")

        direct = {
            "minhash_lsh": lambda: dedup.minhash_lsh_duplicates(
                docs(), n=3, num_hashes=16, bands=4, threshold=0.2),
            "ngram_pairs_t08": lambda: dedup.ngram_jaccard_pairs(
                docs(), n=3, threshold=0.8, max_doc_freq=100),
        }
        return [
            (op, lambda op=op: collect(
                direct[op]() if op in direct else registry.ALL[op][0](self.spark, self.inputs)))
            for op in HEADLINE_OPS
        ]

    def check(self, op, result):
        from icebug_spark.queries import registry

        if op in registry.ALL:
            return refs.check_twin(self.inputs, op, registry.ALL[op][1], result)
        return refs.check_pairs_subset(self.inputs, op, result)


class GraphUpdates(Workload):
    """One op is one event batch: ``GraphUpdater.process`` applies it to
    the live edge table and its two handlers update connected components
    and BFS distances; the op ends when both results are materialized."""

    name = "graph_updates"
    families = {}
    min_passes = 3
    batched = True

    def setup(self, spark) -> None:
        from icebug_spark.streaming.updater import GraphUpdater

        with open(f"{self.inputs}/params.json") as f:
            params = json.load(f)
        self.source, self.n_batches = params["bfs_source"], params["batches"]
        self.spark = spark

        def load(name):
            return spark.read.parquet(f"{self.inputs}/{name}.parquet")

        self.events = load("events")
        self.updater = GraphUpdater(
            load("edges").withColumn("weight", F.lit(1.0)), [self._on_cc, self._on_bfs])
        # the maintainers' state from the previous run, loaded once
        self.comp = load("components").localCheckpoint(eager=True)
        self.dist = load("distances").localCheckpoint(eager=True)
        self.next_batch = 0
        self.batch = None

    def _on_cc(self, edges, _bid):
        from icebug_spark.streaming import dynamic2

        self.comp = dynamic2.dyn_cc_update(self.comp, edges, self.batch).localCheckpoint(eager=True)

    def _on_bfs(self, edges, _bid):
        from icebug_spark.streaming import dynamic2

        self.dist = dynamic2.dyn_bfs_update(self.dist, edges, self.batch).localCheckpoint(eager=True)

    def before_pass(self) -> None:
        """Materialize the next micro-batch, as a stream source hands it
        to ``foreachBatch``."""
        self.batch = (
            self.events.where(F.col("batch") == self.next_batch).drop("batch")
            .localCheckpoint(eager=True)
        )
        self.next_batch += 1

    def exhausted(self) -> bool:
        return self.next_batch >= self.n_batches

    def ops(self):
        def process():
            self.updater.process(self.batch, self.next_batch - 1)

        return [("batch", process)]

    def outputs(self, results):
        # the batch's id and both maintained results, as they stand after it
        if "batch" not in results:
            return {}
        return {"batch": (self.next_batch - 1, collect(self.comp), collect(self.dist))}

    def check(self, op, result):
        """Checks must come in batch order: the mirror only moves forward."""
        batch, comp, dist = result
        if not hasattr(self, "mirror"):  # built after set-up, outside its timing
            self.mirror = refs.EdgeMirror(self.inputs)
        return refs.check_updates(self.mirror, batch, self.source, comp, dist)


WORKLOADS = {w.name: w for w in (Headline, GraphUpdates)}
