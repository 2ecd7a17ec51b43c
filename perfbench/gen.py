"""Seeded input generators, one per workload.

Every generator draws from ``numpy.random.default_rng(seed)`` and writes
parquet through pyarrow with dictionary encoding and statistics off and a
fixed compression, so the same seed gives byte-identical files and a
different seed gives different ones. The program under test never
generates its own inputs here: it only reads what these functions write.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import refs

#: input sizes per workload; recorded in BENCHMARK.json's ``why`` lines
SIZES = {
    "headline": {"customers": 150, "suppliers": 10, "parts": 200, "orders": 1500,
                 "max_lines": 7, "events": 1000, "users": 150,
                 "docs": 800, "exact_share": 0.03, "near_share": 0.05,
                 "embeddings": 1000, "dim": 32},
    "graph_updates": {"scale": 9, "edge_factor": 8, "batches": 16,
                      "events_per_batch": 500, "removal_share": 0.1},
}

#: vocabulary of the sf-dir ``documents`` table the registry's LLM queries
#: were written against, widened so 3-gram shingles are not all hot
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark window order data column sort line join index page cache query "
    "plan stage task shuffle spill block node edge graph rank path shard "
    "token text doc word frame vector model train test split file store"
).split()

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["small", "large", "red", "blue", "green", "steel", "brass"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "valve", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table, path, compression="snappy", use_dictionary=False,
        write_statistics=False, store_schema=False,
    )


def _days(rng: np.random.Generator, n: int, start: str, span_days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def gen_tpch(rng: np.random.Generator, s: dict, out: str) -> None:
    """TPC-H-shaped star schema plus an ``events`` table, key-consistent:
    every order's customer and every lineitem's order, part and supplier
    exist. Column names and types follow the sf-dir tables the registry's
    queries read."""
    nc, ns, npart, no = s["customers"], s["suppliers"], s["parts"], s["orders"]
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    }), f"{out}/supplier.parquet")
    _write(pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 7, npart), rng.integers(0, 6, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    }), f"{out}/part.parquet")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": _days(rng, no, "1992-01-01", 7 * 365),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }), f"{out}/orders.parquet")
    lines = rng.integers(1, s["max_lines"] + 1, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, nl).astype(float)
    pkey = rng.integers(0, npart, nl)
    _write(pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900.0 + (pkey % 1000) * 0.1 + rng.uniform(0, 1200, nl)), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, nl, "1992-01-02", 7 * 365 + 120),
    }), f"{out}/lineitem.parquet")
    ne = s["events"]
    gaps = rng.exponential(180.0, ne)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], ne), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    }), f"{out}/events.parquet")


def rmat_edges(rng: np.random.Generator, scale: int, edge_factor: int) -> np.ndarray:
    """R-MAT (a, b, c, d) = (0.57, 0.19, 0.19, 0.05) directed edges →
    sorted distinct (src, dst) rows, self loops dropped. The skew gives a
    few hubs of high degree and a long tail, as in web and social graphs."""
    m = edge_factor << scale
    src = np.zeros(m, np.int64)
    dst = np.zeros(m, np.int64)
    for bit in range(scale):
        r = rng.random(m)
        down = r >= 0.57 + 0.19            # quadrants c or d: src bit set
        right = ((r >= 0.57) & (r < 0.76)) | (r >= 0.95)  # b or d: dst bit set
        src |= down.astype(np.int64) << bit
        dst |= right.astype(np.int64) << bit
    # a random relabelling spreads the hubs over the id range, so the
    # lowest ids are not always the best-connected
    perm = rng.permutation(1 << scale)
    e = np.stack([perm[src], perm[dst]], axis=1)
    e = e[e[:, 0] != e[:, 1]]
    return np.unique(e, axis=0)


def _edge_table(e: np.ndarray) -> pa.Table:
    return pa.table({"src": pa.array(e[:, 0], pa.int64()),
                     "dst": pa.array(e[:, 1], pa.int64())})


def _doc(rng: np.random.Generator) -> list[str]:
    # Zipf-like word choice: a few words are frequent, most are rare
    n = int(rng.integers(25, 90))
    w = rng.zipf(1.3, n) - 1
    return [VOCAB[i % len(VOCAB)] for i in w]


def gen_corpus(rng: np.random.Generator, s: dict, out: str) -> None:
    """Documents with a fixed share of exact copies (differing only in
    case and whitespace, which exact dedup normalizes away) and of near
    copies with 1-10% of their tokens replaced, plus embeddings with
    planted clusters."""
    n = s["docs"]
    n_exact = int(n * s["exact_share"])
    n_near = int(n * s["near_share"])
    n_base = n - n_exact - n_near
    docs = [_doc(rng) for _ in range(n_base)]
    texts = [" ".join(d) for d in docs]
    for _ in range(n_exact):
        src = docs[int(rng.integers(0, n_base))]
        texts.append("  " + "   ".join(src).upper() + " ")
    for _ in range(n_near):
        src = list(docs[int(rng.integers(0, n_base))])
        rate = float(rng.choice([0.01, 0.03, 0.05, 0.1]))
        k = max(1, int(round(rate * len(src))))
        for i in rng.choice(len(src), k, replace=False):
            src[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        texts.append(" ".join(src))
    order = rng.permutation(n)
    texts = [texts[i] for i in order]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, 5, n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    ne, dim = s["embeddings"], s["dim"]
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, ne)
    emb = (centers[label] + rng.normal(0.0, 0.6, (ne, dim))).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(ne), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), f"{out}/embeddings.parquet")


def gen_headline(seed: int, out: str) -> None:
    """All ten tables of an sf dir: the star schema and ``events`` for
    the relational and graph queries, documents and embeddings for the
    LLM ones."""
    s = SIZES["headline"]
    gen_tpch(np.random.default_rng([seed, 1]), s, out)
    gen_corpus(np.random.default_rng([seed, 3]), s, out)


def gen_graph_updates(seed: int, out: str) -> None:
    """An initial R-MAT edge table and a stream of event batches. Each
    batch adds R-MAT-distributed edges (some already present) and removes
    edges that exist at that point of the stream."""
    s = SIZES["graph_updates"]
    rng = np.random.default_rng([seed, 4])
    e0 = rmat_edges(rng, s["scale"], s["edge_factor"])
    _write(_edge_table(e0), f"{out}/edges.parquet")
    live = {(int(a), int(b)) for a, b in e0}
    n_rm = int(s["events_per_batch"] * s["removal_share"])
    n_add = s["events_per_batch"] - n_rm
    seq, rows = 0, {"batch": [], "seq": [], "type": [], "u": [], "v": [], "w": []}
    for b in range(s["batches"]):
        adds = rmat_edges(rng, s["scale"], 2)
        adds = adds[rng.choice(len(adds), n_add, replace=False)]
        pool = sorted(live)
        rms = [pool[i] for i in rng.choice(len(pool), n_rm, replace=False)]
        ev = [("EDGE_ADDITION", int(u), int(v)) for u, v in adds]
        ev += [("EDGE_REMOVAL", u, v) for u, v in rms]
        for i in rng.permutation(len(ev)):
            t, u, v = ev[i]
            rows["batch"].append(b)
            rows["seq"].append(seq)
            rows["type"].append(t)
            rows["u"].append(u)
            rows["v"].append(v)
            rows["w"].append(1.0)
            seq += 1
            if t == "EDGE_ADDITION":
                live.add((u, v))
            else:
                live.discard((u, v))
    _write(pa.table({
        "batch": pa.array(rows["batch"], pa.int32()),
        "seq": pa.array(rows["seq"], pa.int64()),
        "type": rows["type"],
        "u": pa.array(rows["u"], pa.int64()),
        "v": pa.array(rows["v"], pa.int64()),
        "w": rows["w"],
    }), f"{out}/events.parquet")
    # the maintainers' starting state, as a deployment would load it from
    # the previous run's output; the same reference the checks use
    g = refs.graph(e0)
    ids = np.unique(e0)
    source = int(ids[int(rng.integers(0, len(ids)))])
    comp = sorted(refs.components(g).items())
    dist = sorted(refs.distances(g, source).items())
    for name, cols, rows in (("components", ("id", "component"), comp),
                             ("distances", ("id", "dist"), dist)):
        a = np.array(rows, np.int64).reshape(-1, 2)
        _write(pa.table({cols[0]: a[:, 0], cols[1]: a[:, 1]}), f"{out}/{name}.parquet")
    with open(f"{out}/params.json", "w") as f:
        json.dump({"bfs_source": source, "batches": s["batches"]}, f)


GENERATORS = {"headline": gen_headline, "graph_updates": gen_graph_updates}


def dir_digest(path: str) -> str:
    """sha256 over the sorted file names and bytes of a generated dir."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def ensure_inputs(workload: str, seed: int, cache_root: str) -> str:
    """Generate the workload's inputs for ``seed`` once and return their
    directory; later runs with the same seed and generator reuse it."""
    h = hashlib.sha256()
    for src in (__file__, refs.__file__):
        with open(src, "rb") as f:
            h.update(f.read())
    version = h.hexdigest()[:12]
    out = os.path.join(cache_root, f"{workload}-{seed}-{version}")
    done = os.path.join(out, ".digest")
    if not os.path.exists(done):
        tmp = out + ".tmp"
        os.makedirs(tmp, exist_ok=True)
        for f in os.listdir(tmp):
            os.remove(os.path.join(tmp, f))
        GENERATORS[workload](seed, tmp)
        digest = dir_digest(tmp)
        if os.path.isdir(out):
            for f in os.listdir(out):
                os.remove(os.path.join(out, f))
            os.rmdir(out)
        os.rename(tmp, out)
        with open(done, "w") as f:
            f.write(digest)
    return out


if __name__ == "__main__":
    # python3 perfbench/gen.py WORKLOAD SEED CACHE_ROOT: prints the inputs' directory
    print(ensure_inputs(sys.argv[1], int(sys.argv[2]), sys.argv[3]))
