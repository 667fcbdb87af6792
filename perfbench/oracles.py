"""Independent references the benchmark checks linkgraph's outputs against.

Only numpy, networkx and DuckDB: nothing here imports linkgraph or pyspark,
so a defect in the engine cannot leak into its own yardstick.  Graphs are
passed as directed edge arrays (src, dst) that already hold both
orientations of every undirected edge, the shape LinkGraph stores.
"""

from __future__ import annotations

import hashlib

import networkx as nx
import numpy as np


def _lane_counts(bits: np.ndarray, nsrc: int) -> np.ndarray:
    """Per-lane popcount of a (rows, limbs) uint64 bitset; lane j is bit
    j % 64 of limb j // 64 (linkgraph.operators.bitset's packing)."""
    if bits.shape[0] == 0:
        return np.zeros(nsrc, dtype=np.int64)
    unpacked = np.unpackbits(
        np.ascontiguousarray(bits).view(np.uint8), axis=1, bitorder="little"
    )
    return unpacked.sum(axis=0, dtype=np.int64)[:nsrc]


def msbfs_levels(n: int, src: np.ndarray, dst: np.ndarray, sources) -> np.ndarray:
    """Bit-parallel multi-source BFS over a vid-indexed CSR.

    Returns a (levels, lanes) int64 array: entry [d, j] is the number of
    vertices at distance exactly d from sources[j].  One level ORs the
    frontier limbs of every active edge into its destination with
    np.bitwise_or.reduceat over the dst-sorted edge list.
    """
    nsrc = len(sources)
    limbs = (nsrc + 63) // 64
    order = np.argsort(dst, kind="stable")
    e_src, e_dst = src[order], dst[order]
    frontier = np.zeros((n, limbs), dtype=np.uint64)
    for lane, v in enumerate(sources):
        frontier[v, lane // 64] |= np.uint64(1) << np.uint64(lane % 64)
    seen = frontier.copy()
    per_level = [_lane_counts(frontier, nsrc)]
    while True:
        active = np.flatnonzero(frontier.any(axis=1)[e_src])
        if active.size == 0:
            break
        a_dst = e_dst[active]
        heads, starts = np.unique(a_dst, return_index=True)
        agg = np.bitwise_or.reduceat(frontier[e_src[active]], starts, axis=0)
        new = agg & ~seen[heads]
        frontier = np.zeros_like(frontier)
        frontier[heads] = new
        seen[heads] |= new
        counts = _lane_counts(new, nsrc)
        if not counts.any():
            break
        per_level.append(counts)
    return np.vstack(per_level)


def reach_and_distance_sums(per_level: np.ndarray, upto: int | None = None):
    """(r, s) per lane from msbfs_levels: r counts the source itself,
    s = Σ d · |{v : dist(src, v) = d}|, optionally truncated at level `upto`."""
    lv = per_level if upto is None else per_level[: upto + 1]
    depth = np.arange(lv.shape[0], dtype=np.int64)[:, None]
    return lv.sum(axis=0), (lv * depth).sum(axis=0)


def closeness(r: np.ndarray, s: np.ndarray, n: int) -> np.ndarray:
    """(r-1)^2 / ((n-1) s), 0 when s = 0 — linkgraph.algos.msbfs.closeness."""
    out = np.zeros(len(r), dtype=np.float64)
    ok = (s > 0) & (n > 1)
    out[ok] = (r[ok] - 1.0) ** 2 / ((n - 1.0) * s[ok])
    return out


def pagerank(vids: np.ndarray, src: np.ndarray, dst: np.ndarray,
             iters: int, damping: float = 0.85) -> np.ndarray:
    """Fixed-budget power iteration from the uniform vector, dangling mass
    spread uniformly; ranks aligned with the sorted `vids`."""
    n = len(vids)
    i, j = np.searchsorted(vids, src), np.searchsorted(vids, dst)
    deg = np.bincount(i, minlength=n).astype(np.float64)
    rank = np.full(n, 1.0 / n)
    for _ in range(iters):
        share = np.divide(rank, deg, out=np.zeros(n), where=deg > 0)
        contrib = np.bincount(j, weights=share[i], minlength=n)
        dangling = rank[deg == 0].sum()
        rank = (1.0 - damping) / n + damping * (contrib + dangling / n)
    return rank


def nx_graph(src: np.ndarray, dst: np.ndarray) -> nx.Graph:
    g = nx.Graph()
    g.add_edges_from(zip(src.tolist(), dst.tolist()))
    return g


def min_label_components(g: nx.Graph) -> dict[int, int]:
    """vid -> smallest vid of its connected component."""
    out = {}
    for comp in nx.connected_components(g):
        low = min(comp)
        out.update(dict.fromkeys(comp, low))
    return out


def k_core_degrees(g: nx.Graph, k: int) -> dict[int, int]:
    """Members of the k-core with their degree inside it."""
    core = nx.core_number(g)
    sub = g.subgraph([v for v, c in core.items() if c >= k])
    return dict(sub.degree())


def brandes(g: nx.Graph, roots, scale: bool = True) -> dict[int, float]:
    """Brandes dependency sums from `roots` (networkx's own accumulation),
    times n/|roots| when `scale` (the Brandes–Pich estimator)."""
    from networkx.algorithms.centrality.betweenness import (
        _accumulate_basic,
        _single_source_shortest_path_basic,
    )

    bc = dict.fromkeys(g, 0.0)
    for s in roots:
        order, preds, sigma, _ = _single_source_shortest_path_basic(g, s)
        bc, _ = _accumulate_basic(bc, order, preds, sigma, s)
    factor = g.number_of_nodes() / len(roots) if scale else 1.0
    return {v: b * factor for v, b in bc.items()}


def _move_parity(rnd: int, vids: np.ndarray) -> np.ndarray:
    """Parity of the 60-bit md5 prefix of 'mv<round>:<vid>' (its 15th hex digit)."""
    return np.array(
        [int(hashlib.md5(f"mv{rnd}:{v}".encode()).hexdigest()[14], 16) & 1 for v in vids],
        dtype=np.int64,
    )


def louvain_local_move(vids: np.ndarray, src: np.ndarray, dst: np.ndarray,
                       rounds: int) -> np.ndarray:
    """Replica of the documented louvain_local_move rounds on a symmetric
    unit-weight graph: integer gain M*k_vc - d_v*dc_c against the
    own-community base, argmax ties to the smallest label, and only
    vertices with even md5 parity move.  Returns labels aligned with vids."""
    n = len(vids)
    i, j = np.searchsorted(vids, src), np.searchsorted(vids, dst)
    deg = np.bincount(i, minlength=n).astype(np.int64)
    m = np.int64(len(src))
    label = vids.astype(np.int64).copy()  # label values are vids
    for rnd in range(1, rounds + 1):
        lpos = np.searchsorted(vids, label)
        dc = np.bincount(lpos, weights=deg, minlength=n).astype(np.int64)
        # k[v, c]: edges from v's neighbours carrying label c (tallied at dst)
        key = j.astype(np.int64) * n + lpos[i]
        uk, k = np.unique(key, return_counts=True)
        v, c = uk // n, uk % n
        own = c == np.searchsorted(vids, label[v])
        ka = np.zeros(n, dtype=np.int64)
        np.add.at(ka, v[own], k[own])
        a = np.searchsorted(vids, label)
        base = m * ka - deg * (dc[a] - deg)
        cand = ~own
        cv, cc, score = v[cand], c[cand], m * k[cand] - deg[v[cand]] * dc[c[cand]]
        # best candidate per v: max score, then smallest label
        order = np.lexsort((vids[cc], -score, cv))
        cv, cc, score = cv[order], cc[order], score[order]
        first = np.ones(len(cv), dtype=bool)
        first[1:] = cv[1:] != cv[:-1]
        bv, bc, bs = cv[first], cc[first], score[first]
        move = (bs - base[bv] > 0) & (_move_parity(rnd, vids[bv]) == 0)
        label = label.copy()
        label[bv[move]] = vids[bc[move]]
    return label


def shared_tool_edges(parquet_path: str, hub_cap: int, temp_dir: str):
    """DuckDB SQL of the shared-tool derivation plus the dense relabel
    (degree descending, name ascending).  Returns (n_vertices, src, dst)
    with both orientations of every edge."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{temp_dir}'")
        con.execute("SET threads = 2")
        got = con.execute(
            f"""
            WITH ck AS (
              SELECT DISTINCT conv_id, tool AS k
              FROM read_parquet('{parquet_path}') WHERE tool IS NOT NULL),
            keep AS (SELECT k FROM ck GROUP BY k HAVING count(*) <= {int(hub_cap)}),
            ck2 AS (SELECT ck.conv_id, ck.k FROM ck JOIN keep USING (k)),
            pairs AS (
              SELECT DISTINCT a.conv_id AS s, b.conv_id AS d
              FROM ck2 a JOIN ck2 b ON a.k = b.k AND a.conv_id < b.conv_id),
            occ AS (SELECT s AS name FROM pairs UNION ALL SELECT d FROM pairs),
            deg AS (SELECT name, count(*) AS deg FROM occ GROUP BY name),
            ids AS (
              SELECT name, row_number() OVER (ORDER BY deg DESC, name ASC) - 1 AS vid
              FROM deg)
            SELECT i1.vid AS src, i2.vid AS dst, (SELECT count(*) FROM ids) AS n
            FROM pairs JOIN ids i1 ON pairs.s = i1.name JOIN ids i2 ON pairs.d = i2.name
            """
        ).fetchnumpy()
    finally:
        con.close()
    src = got["src"].astype(np.int64)
    dst = got["dst"].astype(np.int64)
    n = int(got["n"][0]) if len(src) else 0
    return n, np.concatenate([src, dst]), np.concatenate([dst, src])


def copurchase_edges(orderkey: np.ndarray, partkey: np.ndarray):
    """Directed part–part edges for distinct parts sharing an order."""
    pairs = np.unique(np.stack([orderkey, partkey], axis=1), axis=0)
    ok, pk = pairs[:, 0], pairs[:, 1]
    heads, starts, sizes = np.unique(ok, return_index=True, return_counts=True)
    srcs, dsts = [], []
    for k in np.unique(sizes):
        if k < 2:
            continue
        rows = starts[sizes == k][:, None] + np.arange(k)[None, :]
        parts = pk[rows]
        a, b = np.meshgrid(np.arange(k), np.arange(k), indexing="ij")
        off = a != b
        srcs.append(parts[:, a[off]].ravel())
        dsts.append(parts[:, b[off]].ravel())
    key = np.unique(np.concatenate(srcs) * (1 << 32) + np.concatenate(dsts))
    return key >> 32, key & ((1 << 32) - 1)


def edge_digest(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, str]:
    """Sorted packed edge keys and their sha1, for exact edge-set equality."""
    key = np.sort(src.astype(np.int64) * (1 << 32) + dst.astype(np.int64))
    return key, hashlib.sha1(key.tobytes()).hexdigest()[:16]
