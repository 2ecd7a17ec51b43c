"""Graph file I/O part 6: the NetworkitBinary graph container (nkbg).

Parity targets:
- NetworkitBinaryWriter (``io/NetworkitBinaryWriter.cpp:40-456``) and
  NetworkitBinaryReader (``io/NetworkitBinaryReader.cpp:37``), format
  spec ``io/NetworkitBinaryGraph.md`` and the varint / zigzag helpers in
  ``include/networkit/io/NetworkitBinaryGraph.hpp:74-143``. The Python
  surface is ``Format.NetworkitBinary`` (``graphio.pyx:1088,1126,1535``)
  with magic-byte detection in guessFileFormat (``graphio.pyx:1167-1171``).

Layout (one file, little-endian):
  header(96B: magic[8] + 11 x u64) | nodeFlags[n] u8 | firstVertex[chunks-1]
  | adj block    ((chunks-1) u64 chunk offsets, u64 edge count, varint data)
  | transpose block (same shape)
  | adj weights  ((chunks-1) u64 offsets, data)   -- offsets written even
  | transpose weights (same)                          when unweighted
  | adj edge ids ((chunks-1) u64 offsets [, data when indexed])
  | transpose edge ids (same)
For an undirected graph the adj list of u holds neighbors v <= u and the
transpose holds v >= u (self-loops in both, NetworkitBinaryWriter.cpp:225);
each edge is therefore stored exactly once per block — reading the adj
block alone yields the canonical (min, max) edge set directly.

The writer mirrors the reference byte-for-byte including its quirks: the
weight/id chunk-offset arrays are emitted even when the graph is
unweighted/unindexed (their header offsets are then 0 and the id offset
arrays are unaccounted trailing bytes, NetworkitBinaryWriter.cpp:300-326),
magic is NUL-padded "nkbg003", and the node-flag bit 0 is SET for a node
that EXISTS (the reference reader removes unflagged ids,
NetworkitBinaryReader.cpp:106-110; the constant's DELETED_BIT name is
historical). Like the reference writer (which iterates ``G.forNodes``),
ids are assumed 0..n-1; a vertex id absent from ``g.vertices`` is written
as a deleted (flag 0, degree 0) node and comes back removed.

Weight formats (features bits 1-3, auto-detected like
NetworkitBinaryWriter.cpp:43-69): 1 = unsigned varint, 2 = zigzag signed
varint, 3 = double, 4 = float — chosen as the smallest lossless encoding.

Like readers3-5: a convert-once ingest/export format — the byte walk is
driver-side by design, with the parquet container as the at-scale path.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession

from icebug_spark.graph.core import Graph

_MAGIC3 = b"nkbg003\x00"
_MAGIC2 = b"nkbg002\x00"
_HEADER_FMT3 = "<8s11Q"   # magic + checksum features nodes chunks + 7 offsets
_HEADER_FMT2 = "<8s9Q"    # nkbg002: no AdjId offsets
_DIR_MASK = 0x1
_WGHT_SHIFT, _WGHT_MASK = 1, 0xE
_INDEX_SHIFT, _INDEX_MASK = 4, 0x10
_EXISTS_BIT = 0x1  # reference DELETED_BIT — set means the node exists

# WEIGHT_FORMAT enum (NetworkitBinaryGraph.hpp:35)
W_NONE, W_VARINT, W_SIGNED_VARINT, W_DOUBLE, W_FLOAT = 0, 1, 2, 3, 4


# ---------------------------------------------------------------------------
# varint / zigzag (NetworkitBinaryGraph.hpp:74-143)
# ---------------------------------------------------------------------------


def varint_encode(value: int, out: bytearray) -> int:
    """Append the reference's varint encoding of ``value`` (the byte
    count is unary-coded in the header byte's trailing-zero position,
    remaining header bits hold the low bits of the value)."""
    if value == 0:
        out.append(1)
        return 1
    if value >= 1 << 56:
        out.append(0)
        out += (value & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
        return 9
    data_bytes = (value.bit_length() - 1) // 7
    out.append(((1 << data_bytes) | (value << (data_bytes + 1))) & 0xFF)
    rest = value >> (7 - data_bytes)
    for _ in range(data_bytes):
        out.append(rest & 0xFF)
        rest >>= 8
    return data_bytes + 1


def varint_decode(buf, pos: int) -> tuple[int, int]:
    """(value, new_pos); inverse of varint_encode
    (NetworkitBinaryGraph.hpp:112)."""
    head = buf[pos]
    if head == 0:
        return int.from_bytes(buf[pos + 1 : pos + 9], "little"), pos + 9
    n = (head & -head).bit_length() - 1  # index of least-significant set bit
    value = head >> (n + 1)
    shift = 7 - n
    for i in range(n):
        value |= buf[pos + 1 + i] << shift
        shift += 8
    return value, pos + 1 + n


def zigzag_encode(value: int) -> int:
    return ((value << 1) ^ (-1 if value < 0 else 0)) & 0xFFFFFFFFFFFFFFFF


def zigzag_decode(value: int) -> int:
    return (value >> 1) ^ -(value & 1)


# ---------------------------------------------------------------------------
# writer (NetworkitBinaryWriter.cpp:40)
# ---------------------------------------------------------------------------


def _detect_weight_format(weights) -> int:
    """AUTO_DETECT (NetworkitBinaryWriter.cpp:43-69): unsigned varint if
    all weights are nonnegative integers, zigzag varint if integers,
    float if lossless in float32, else double."""
    arr = np.asarray(weights, dtype=np.float64)
    if arr.size == 0:
        return W_VARINT
    # the int64 probe is undefined (and warns) on NaN/inf/|w|>=2^63 —
    # only attempt it when every weight is safely castable
    if np.all(np.isfinite(arr)) and np.all(np.abs(arr) < 2**63):
        as_int = arr.astype(np.int64, copy=False)
        if np.all(arr == as_int):
            return W_VARINT if np.all(arr >= 0) else W_SIGNED_VARINT
    if np.all(arr == arr.astype(np.float32)):
        return W_FLOAT
    return W_DOUBLE


def _encode_weight(w: float, fmt: int, out: bytearray) -> None:
    if fmt == W_VARINT:
        varint_encode(int(w), out)
    elif fmt == W_SIGNED_VARINT:
        varint_encode(zigzag_encode(int(w)), out)
    elif fmt == W_DOUBLE:
        out += struct.pack("<d", w)
    elif fmt == W_FLOAT:
        out += struct.pack("<f", w)


def write_networkit_binary(
    g: Graph, path: str, chunks: int = 32, edge_ids: bool = False
) -> None:
    """NetworkitBinaryWriter::write (``io/NetworkitBinaryWriter.cpp:25``)
    with AUTO_DETECT weights. ``edge_ids=True`` persists the engine's
    canonical edge ids (graph/tools.py edge_ids ordering — the analogue
    of the reference's indexEdges() ids) into the AdjId blocks."""
    ecols = ["src", "dst"] + (["weight"] if g.weighted else [])
    epdf = g.edges.select(*ecols).toPandas()
    vids = np.sort(
        g.vertices.select("id").toPandas()["id"].to_numpy(dtype=np.int64)
    )
    n = int(max(vids.max() if len(vids) else -1,
                epdf["src"].max() if len(epdf) else -1,
                epdf["dst"].max() if len(epdf) else -1)) + 1
    exists = np.zeros(n, dtype=bool)
    exists[vids] = True

    weight_fmt = _detect_weight_format(epdf["weight"]) if g.weighted else W_NONE

    # per-node adjacency (out = v<=u / out-arcs; transpose = v>=u / in-arcs)
    out_adj: list[list] = [[] for _ in range(n)]
    in_adj: list[list] = [[] for _ in range(n)]
    src = epdf["src"].to_numpy(dtype=np.int64) if len(epdf) else np.array([], np.int64)
    dst = epdf["dst"].to_numpy(dtype=np.int64) if len(epdf) else np.array([], np.int64)
    wgt = (
        epdf["weight"].to_numpy(dtype=np.float64)
        if g.weighted
        else np.ones(len(epdf))
    )
    # canonical edge ids: zipWithIndex order over sorted (src, dst) —
    # same ordering contract as graph/tools.py:276 edge_ids()
    order = np.lexsort((dst, src))
    eid = np.empty(len(src), dtype=np.int64)
    eid[order] = np.arange(len(src))
    for i in range(len(src)):
        u, v, w, k = int(src[i]), int(dst[i]), float(wgt[i]), int(eid[i])
        if g.directed:
            out_adj[u].append((v, w, k))
            in_adj[v].append((u, w, k))
        else:
            lo, hi = (u, v) if u <= v else (v, u)
            out_adj[hi].append((lo, w, k))  # neighbor v <= u
            in_adj[lo].append((hi, w, k))   # neighbor v >= u
    for u in range(n):
        out_adj[u].sort()
        in_adj[u].sort()

    chunks = min(chunks, n) if n else 1
    first_in_chunk = [0]
    step, fn = n // chunks if chunks else 0, 0
    for _ in range(1, chunks):
        fn += step
        first_in_chunk.append(fn)
    first_in_chunk.append(n)

    # encode the four data streams + per-chunk prefix sums
    adj_data, tr_data = bytearray(), bytearray()
    wadj_data, wtr_data = bytearray(), bytearray()
    iadj_data, itr_data = bytearray(), bytearray()
    adj_off, tr_off, wadj_off, wtr_off, iadj_off, itr_off = (
        [] for _ in range(6)
    )
    n_out = n_in = 0
    for c in range(chunks):
        for u in range(first_in_chunk[c], first_in_chunk[c + 1]):
            ol, il = out_adj[u], in_adj[u]
            n_out += len(ol)
            n_in += len(il)
            varint_encode(len(ol), adj_data)
            varint_encode(len(il), tr_data)
            for v, w, k in ol:
                varint_encode(v, adj_data)
                _encode_weight(w, weight_fmt, wadj_data)
                if edge_ids:
                    varint_encode(k, iadj_data)
            for v, w, k in il:
                varint_encode(v, tr_data)
                _encode_weight(w, weight_fmt, wtr_data)
                if edge_ids:
                    varint_encode(k, itr_data)
        adj_off.append(len(adj_data))
        tr_off.append(len(tr_data))
        wadj_off.append(len(wadj_data))
        wtr_off.append(len(wtr_data))
        iadj_off.append(len(iadj_data))
        itr_off.append(len(itr_data))

    features = (
        (1 if g.directed else 0)
        | ((weight_fmt << _WGHT_SHIFT) & _WGHT_MASK)
        | (((1 if edge_ids else 0) << _INDEX_SHIFT) & _INDEX_MASK)
    )
    header_size = struct.calcsize(_HEADER_FMT3)
    off_base = header_size
    off_adj = off_base + n + (chunks - 1) * 8
    off_tr = off_adj + (chunks - 1) * 8 + 8 + adj_off[-1]
    pos = off_tr + (chunks - 1) * 8 + 8 + tr_off[-1]
    if weight_fmt != W_NONE:
        off_wadj = pos
        pos += (chunks - 1) * 8 + wadj_off[-1]
        off_wtr = pos
        pos += (chunks - 1) * 8 + wtr_off[-1]
    else:
        off_wadj = off_wtr = 0
        pos += 2 * (chunks - 1) * 8  # zero offset arrays still written
    if edge_ids:
        off_iadj = pos
        pos += (chunks - 1) * 8 + iadj_off[-1]
        off_itr = pos
    else:
        off_iadj = off_itr = 0

    def offsets(prefix: list) -> bytes:
        return b"".join(struct.pack("<Q", prefix[c - 1]) for c in range(1, chunks))

    with open(path, "wb") as f:
        f.write(
            struct.pack(
                _HEADER_FMT3, _MAGIC3, 0, features, n, chunks,
                off_base, off_adj, off_tr, off_wadj, off_wtr, off_iadj, off_itr,
            )
        )
        f.write(bytes(np.where(exists, _EXISTS_BIT, 0).astype(np.uint8)))
        f.write(b"".join(struct.pack("<Q", v) for v in first_in_chunk[1:chunks]))
        f.write(offsets(adj_off) + struct.pack("<Q", n_out) + bytes(adj_data))
        f.write(offsets(tr_off) + struct.pack("<Q", n_in) + bytes(tr_data))
        f.write(offsets(wadj_off) + bytes(wadj_data))
        f.write(offsets(wtr_off) + bytes(wtr_data))
        f.write(offsets(iadj_off) + bytes(iadj_data))
        f.write(offsets(itr_off) + bytes(itr_data))


# ---------------------------------------------------------------------------
# reader (NetworkitBinaryReader.cpp:37)
# ---------------------------------------------------------------------------


def read_networkit_binary(spark: SparkSession, path: str) -> Graph:
    """NetworkitBinaryReader::read: accepts nkbg002 and nkbg003
    (``NetworkitBinaryReader.cpp:50-56``). Returns the canonical edge
    DataFrame decoded from the adjacency block (one entry per edge by
    the v<=u storage rule); nodes whose flag lacks the exists bit are
    removed from the vertex set (``:106-110``). When edge indices are
    present they come back as an ``edge_id`` column."""
    with open(path, "rb") as f:
        buf = f.read()
    magic = bytes(buf[:8])
    if magic == _MAGIC3:
        version = 3
        hdr = struct.unpack_from(_HEADER_FMT3, buf, 0)
        (_, _, features, n, chunks, off_base, off_adj, off_tr,
         off_wadj, _off_wtr, off_iadj, _off_itr) = hdr
    elif magic == _MAGIC2:
        version = 2
        hdr = struct.unpack_from(_HEADER_FMT2, buf, 0)
        (_, _, features, n, chunks, off_base, off_adj, off_tr,
         off_wadj, _off_wtr) = hdr
        off_iadj = 0
    else:
        raise ValueError(f"{path}: reader expected another magic value")
    directed = bool(features & _DIR_MASK)
    weight_fmt = (features & _WGHT_MASK) >> _WGHT_SHIFT
    indexed = bool((features & _INDEX_MASK) >> _INDEX_SHIFT) if version >= 3 else False

    flags = np.frombuffer(buf, dtype=np.uint8, count=n, offset=off_base)
    existing = np.flatnonzero(flags & _EXISTS_BIT).astype(np.int64)

    (n_edges,) = struct.unpack_from("<Q", buf, off_adj + (chunks - 1) * 8)
    (n_tr,) = struct.unpack_from("<Q", buf, off_tr + (chunks - 1) * 8)
    if not directed and n_edges != n_tr:
        raise ValueError(
            f"{path}: undirected adj/transpose edge counts differ "
            f"({n_edges} vs {n_tr})"
        )

    pos = off_adj + (chunks - 1) * 8 + 8
    wpos = off_wadj + (chunks - 1) * 8
    ipos = off_iadj + (chunks - 1) * 8
    srcs = np.empty(n_edges, dtype=np.int64)
    dsts = np.empty(n_edges, dtype=np.int64)
    wvals = np.empty(n_edges, dtype=np.float64) if weight_fmt else None
    ivals = np.empty(n_edges, dtype=np.int64) if indexed else None
    k = 0
    for u in range(n):
        deg, pos = varint_decode(buf, pos)
        for _ in range(deg):
            v, pos = varint_decode(buf, pos)
            if directed:
                srcs[k], dsts[k] = u, v
            else:  # stored at u with v <= u → canonical (v, u)
                srcs[k], dsts[k] = v, u
            if weight_fmt == W_VARINT:
                w, wpos = varint_decode(buf, wpos)
                wvals[k] = float(w)
            elif weight_fmt == W_SIGNED_VARINT:
                w, wpos = varint_decode(buf, wpos)
                wvals[k] = float(zigzag_decode(w))
            elif weight_fmt == W_DOUBLE:
                (wvals[k],) = struct.unpack_from("<d", buf, wpos)
                wpos += 8
            elif weight_fmt == W_FLOAT:
                (wvals[k],) = struct.unpack_from("<f", buf, wpos)
                wpos += 4
            if indexed:
                ivals[k], ipos = varint_decode(buf, ipos)
            k += 1
    assert k == n_edges, f"{path}: adj block decoded {k} of {n_edges} edges"

    data = {"src": srcs, "dst": dsts}
    if weight_fmt:
        data["weight"] = wvals
    if indexed:
        data["edge_id"] = ivals
    schema = "src BIGINT, dst BIGINT"
    schema += ", weight DOUBLE" if weight_fmt else ""
    schema += ", edge_id BIGINT" if indexed else ""
    edges = (
        spark.createDataFrame(pd.DataFrame(data))
        if n_edges
        else spark.createDataFrame([], schema)
    )
    vertices = spark.createDataFrame(
        pd.DataFrame({"id": existing})
        if len(existing)
        else pd.DataFrame({"id": pd.Series([], dtype="int64")})
    )
    return Graph(
        edges, vertices=vertices, directed=directed, weighted=bool(weight_fmt)
    )
