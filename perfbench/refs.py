"""Independent references for output checks, run outside the timed region.

- Registry queries are compared with their DuckDB twins
  (``registry.ALL[name][1]``) over the same generated parquet, exactly as
  the repository's oracle gate compares them. Twin results are cached
  per input digest, because a twin can cost far more than the query.
- Graph updates are compared with networkx over an edge set replayed
  from the event file in Python.
- The MinHash-LSH output is checked for precision only (every pair is an
  exact-Jaccard pair with the same value); its recall is unchecked,
  because LSH is approximate by design.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TWIN_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _digest(inputs: str) -> str:
    with open(os.path.join(inputs, ".digest")) as f:
        return f.read().strip()


def twin_result(inputs: str, name: str, sql: str) -> pd.DataFrame:
    """The DuckDB twin's result over the generated tables, cached under
    the inputs' digest."""
    import duckdb

    cache = os.path.join(os.path.dirname(inputs), "twins", _digest(inputs))
    path = os.path.join(cache, f"{name}.parquet")
    if os.path.exists(path):
        return pq.read_table(path).to_pandas()
    con = duckdb.connect()
    try:
        for t in TWIN_TABLES:
            f = os.path.join(inputs, f"{t}.parquet")
            if os.path.exists(f):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{f}'")
        df = con.sql(sql).df()
    finally:
        con.close()
    os.makedirs(cache, exist_ok=True)
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), path + ".tmp")
    os.replace(path + ".tmp", path)
    return df


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    s, o = normalize(got), normalize(want)
    if list(s.columns) != list(o.columns):
        return f"columns {list(s.columns)} vs {list(o.columns)}"
    if len(s) != len(o):
        return f"rows {len(s)} vs {len(o)}"
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=False, check_exact=True)
    except AssertionError as exc:
        return "values differ: " + " ".join(str(exc).split())[:200]
    return None


def check_twin(inputs: str, name: str, sql: str, result: pa.Table) -> str | None:
    return compare(result.to_pandas(), twin_result(inputs, name, sql))


def _exact_pairs(inputs: str, capped: bool) -> pd.DataFrame:
    from icebug_spark.queries import registry

    name = "llm_ngram_jaccard_pairs" if capped else "llm_ngram_jaccard_uncapped"
    return twin_result(inputs, name, registry.ALL[name][1])


def check_pairs_subset(inputs: str, op: str, result: pa.Table) -> str | None:
    got = result.to_pandas()
    if op == "ngram_pairs_t08":
        # the t=0.2 twin holds every pair at or above 0.8, same cap
        want = _exact_pairs(inputs, capped=True)
        return compare(got, want[want["jaccard"] >= 0.8])
    if op == "minhash_lsh":
        want = _exact_pairs(inputs, capped=False).rename(columns={"jaccard": "exact"})
        m = got.merge(want, on=["doc_a", "doc_b"], how="left")
        bad = m[m["exact"].isna() | (m["jaccard"] != m["exact"]) | (m["jaccard"] < 0.2)]
        if len(bad):
            return f"{len(bad)} of {len(m)} pairs are not exact pairs with that Jaccard"
        if not len(m):
            return "no pairs"
        return None
    raise KeyError(op)


def graph(edges: np.ndarray):
    """The undirected graph over ``(src, dst)`` rows."""
    import networkx as nx

    g = nx.Graph()
    g.add_edges_from(map(tuple, edges.tolist()))
    return g


def components(g) -> dict:
    """Component label per vertex: the least id in its component."""
    import networkx as nx

    out = {}
    for comp in nx.connected_components(g):
        lo = min(comp)
        out.update((v, lo) for v in comp)
    return out


def distances(g, source: int) -> dict:
    """Hop distance from ``source`` per reachable vertex."""
    import networkx as nx

    return nx.single_source_shortest_path_length(g, source) if source in g else {source: 0}


class EdgeMirror:
    """The live edge set, replayed in Python from the event file: within
    a batch the last event per (u, v) by ``seq`` wins."""

    def __init__(self, inputs: str):
        e0 = pq.read_table(f"{inputs}/edges.parquet").to_pandas().to_numpy()
        self.live = {(int(a), int(b)) for a, b in e0}
        ev = pq.read_table(f"{inputs}/events.parquet").to_pandas()
        self.batches = {b: g.sort_values("seq") for b, g in ev.groupby("batch")}
        self.applied = -1

    def advance(self, batch: int) -> None:
        while self.applied < batch:
            self.applied += 1
            g = self.batches[self.applied]
            for t, u, v in zip(g["type"], g["u"], g["v"]):
                if t == "EDGE_ADDITION":
                    self.live.add((int(u), int(v)))
                else:
                    self.live.discard((int(u), int(v)))


def check_updates(mirror: EdgeMirror, batch: int, source: int, comp: pa.Table, dist: pa.Table) -> str | None:
    mirror.advance(batch)
    g = graph(np.array(sorted(mirror.live)))
    want_c = pd.DataFrame(list(components(g).items()), columns=["id", "component"])
    bad = compare(comp.to_pandas(), want_c)
    if bad:
        return "components: " + bad
    want_d = pd.DataFrame(list(distances(g, source).items()), columns=["id", "dist"])
    bad = compare(dist.to_pandas(), want_d)
    return "bfs: " + bad if bad else None
