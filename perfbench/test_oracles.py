"""The benchmark's numpy MS-BFS oracle against networkx on small graphs.

    python3 -m pytest perfbench/test_oracles.py -q
"""

import networkx as nx
import numpy as np
import pytest

import oracles


def _directed(g: nx.Graph):
    e = np.array(list(g.edges()), dtype=np.int64).reshape(-1, 2)
    return np.concatenate([e[:, 0], e[:, 1]]), np.concatenate([e[:, 1], e[:, 0]])


@pytest.mark.parametrize("n,p,seed,lanes", [(60, 0.05, 1, 7), (200, 0.02, 2, 130), (40, 0.0, 3, 3)])
def test_msbfs_levels_match_networkx(n, p, seed, lanes):
    g = nx.gnp_random_graph(n, p, seed=seed)  # sparse: several components, long paths
    src, dst = _directed(g)
    sources = np.random.default_rng(seed).choice(n, lanes, replace=False).tolist()
    per_level = oracles.msbfs_levels(n, src, dst, sources)
    r, s = oracles.reach_and_distance_sums(per_level)
    for lane, v in enumerate(sources):
        dist = nx.single_source_shortest_path_length(g, v)
        assert r[lane] == len(dist)
        assert s[lane] == sum(dist.values())
        for d in range(per_level.shape[0]):
            assert per_level[d, lane] == sum(1 for x in dist.values() if x == d)


def test_truncated_sums_stop_at_level():
    g = nx.path_graph(6)
    src, dst = _directed(g)
    per_level = oracles.msbfs_levels(6, src, dst, [0])
    r, s = oracles.reach_and_distance_sums(per_level, upto=2)
    assert (r[0], s[0]) == (3, 0 + 1 + 2)
