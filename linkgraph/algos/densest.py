"""Densest-subgraph peeling — Bahmani/Kumar/Vassilvitskii (VLDB 2012).

Charikar's greedy 2-approximation peels the minimum-degree vertex one
at a time — inherently sequential.  The parallel variant peels ALL
vertices whose degree is at most (1+eps) times the current average
degree each round; the density of the best round is a 2(1+eps)-
approximation of the maximum-density subgraph, and the vertex set
shrinks geometrically, so the loop runs O(log |V|) rounds on any graph.

Engine portability: with eps = 1/2 the removal test
``deg(v) <= 1.5 * avg_deg`` over the induced subgraph S becomes the
PURE-INTEGER comparison

    2 * deg_S(v) * |S|  <=  3 * E_dir(S)

(E_dir = directed edge count = 2x undirected; avg undirected degree =
E_dir/|S|), so every round's peel set — and therefore the whole curve —
is exact in any engine, and the DuckDB oracle replays the unrolled
rounds bit-for-bit.  Density is reported as the UNROUNDED double
E_dir/(2*|S|): one IEEE division of two exact integers is bit-identical
in any engine, so no rounding convention is needed (python round() is
banker's, DuckDB/Spark ROUND is half-away — a single division sidesteps
the mismatch entirely).

Per round, everything derives from ONE induced-degree aggregate:
  * deg_S = the surviving edge table grouped by src (the symmetric
    store means src-side grouping IS the degree — map-side combined);
  * |S| and E_dir fold out of the same table (two scalar aggs fused
    into one row via a single agg over the degree table);
  * the peel is a filter on the degree table; edge survival is two
    semi-joins against the surviving vertex set.
The edge table is referenced three times per round (degree + two
semi-joins), so the round loop runs with loop.iterate's `sever` (the
louvain/k-truss statistics-severance rationale) — which also matches the
operator's restartable round-boundary shape at 100 TB.

Returns the per-round peel curve: one row per executed round,
(round, n_vertices, e_directed, density, peeled) describing the
subgraph AT THE START of the round and how many vertices that round
removed; the densest prefix is ``max_by(round, density)``.  Callers
wanting the witness subgraph re-run to the argmax round and keep S.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.loop import iterate


def densest_subgraph_curve(
    graph: LinkGraph, rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    """Peel curve of the (1+1/2)-threshold parallel densest-subgraph
    algorithm.  rounds=R executes exactly R rounds (oracle contract);
    rounds=None peels until the graph is empty (budget-warned).
    graph must be symmetric."""
    if not graph.symmetric:
        raise ValueError("densest_subgraph_curve needs a symmetric graph")
    spark = graph.spark
    sizes: list[tuple[int, int]] = []  # (|S|, E_dir) of each round's start

    def probe(edges: DataFrame) -> tuple[int, int]:
        row = edges.agg(F.countDistinct("src").alias("n"), F.count("*").alias("e")).first()
        sizes.append((int(row["n"] or 0), int(row["e"] or 0)))
        return sizes[-1]

    def step(edges: DataFrame, _r: int, size: tuple[int, int]) -> DataFrame:
        n, e_dir = size
        deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
        # peel: 2*deg*|S| <= 3*E_dir  <=>  deg <= 1.5 * avg
        keep = deg.where(2 * F.col("deg") * F.lit(n) > 3 * F.lit(e_dir)).select("src")
        return (
            edges.join(keep, "src", "left_semi")
            .join(keep.withColumnRenamed("src", "dst"), "dst", "left_semi")
            .select("src", "dst")
        )

    iterate(
        "densest", graph.edges.select("src", "dst"), step, probe,
        rounds=rounds if rounds is not None else max_rounds, probe_seed=True,
        converged=lambda size, _: size[0] == 0, sever=True,
    )
    curve = [
        (r, n, e_dir, n - sizes[r][0])
        for r, (n, e_dir) in enumerate(sizes[:-1], start=1)
        if n > 0
    ]
    if rounds is None and curve and curve[-1][1] - curve[-1][3] > 0:
        import warnings

        warnings.warn(
            "densest_subgraph_curve: round budget exhausted before the graph "
            "drained — the curve is a valid prefix but may miss denser rounds",
            stacklevel=2,
        )
    return spark.createDataFrame(
        [(r, n, e, e / (2.0 * n), p) for r, n, e, p in curve],
        "round int, n_vertices long, e_directed long, density double, peeled long",
    )
