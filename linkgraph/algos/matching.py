"""Maximal matching via deterministic local-min edge rounds.

The parallel greedy matching of Israeli–Itai [IPL 1986], derandomized
with the engine-portable md5 device the MIS/node2vec/Louvain kernels
use: every undirected edge draws a fixed 60-bit priority
p(u,v) = H("me:u:v"), and in each round an edge is MATCHED iff it is
the strict minimum-priority incident edge of BOTH its endpoints
(ties broken by (u, v), a total order).  Matched endpoints leave the
graph; surviving edges re-compete.  Two matched edges can never share
a vertex (each vertex has exactly one argmin edge), so the output is a
matching by construction; when the edge set drains it is maximal
(every removed edge lost an endpoint to some matched edge).  Expected
rounds O(log |E|) — the same geometric-drain argument as Luby.

A maximal matching is the standard parallel coarsening/pairing
primitive (multilevel graph partitioning, 2-approximate vertex cover
= the matched vertex set).

Scale shape:
  * state is the ALIVE canonical edge set (u < v, one row per
    undirected edge) + its static priority — it only ever shrinks;
  * per round: per-vertex argmin = union of the two endpoint views +
    ONE partial+final MIN(struct) aggregate (map-side combined, never
    a window sort); the matched test is two hash joins against the
    ≤|V|-row argmin table; removal is two left-anti joins;
  * the alive table is referenced 4x per round, so — like louvain and
    k-truss — the checkpointed leaf's originStats would grow
    geometrically; the round loop runs with loop.iterate's `sever` to
    keep planning cost flat.

rounds=R runs exactly R unrolled rounds (the DuckDB oracle mirrors the
same R rounds bit-for-bit — a well-defined matching prefix, possibly
not yet maximal); rounds=None drains to maximality under max_rounds
with the scc.py budget warning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.loop import iterate


def _edge_prio(u_col, v_col):
    """Fixed engine-portable edge priority: 60-bit md5 prefix of "me:u:v"."""
    key = F.concat(
        F.lit("me:"), u_col.cast("string"), F.lit(":"), v_col.cast("string")
    )
    return F.conv(F.substring(F.md5(key), 1, 15), 16, 10).cast("long")


def maximal_matching(
    graph: LinkGraph, rounds: int | None = None, max_rounds: int = 64
) -> DataFrame:
    """Returns (u, v, matched_round) with u < v, one row per matched edge.

    graph must be symmetric (undirected edges)."""
    if not graph.symmetric:
        raise ValueError("maximal_matching needs a symmetric graph")
    spark = graph.spark
    alive = graph.edges.where(F.col("src") < F.col("dst")).select(
        F.col("src").alias("u"),
        F.col("dst").alias("v"),
        _edge_prio(F.col("src"), F.col("dst")).alias("p"),
    )
    matched_parts: list[DataFrame] = []

    def step(alive: DataFrame, r: int, _last) -> DataFrame:
        ekey = F.struct(F.col("p"), F.col("u"), F.col("v"))
        both = alive.select(F.col("u").alias("vid"), ekey.alias("k")).unionByName(
            alive.select(F.col("v").alias("vid"), ekey.alias("k"))
        )
        mn = both.groupBy("vid").agg(F.min("k").alias("mn"))
        # the round's matched edges outlive the loop state: pinned here
        m = (
            alive.withColumn("k", ekey)
            .join(mn.select(F.col("vid").alias("u"), F.col("mn").alias("mu")), "u")
            .join(mn.select(F.col("vid").alias("v"), F.col("mn").alias("mv")), "v")
            .where((F.col("k") == F.col("mu")) & (F.col("k") == F.col("mv")))
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        matched_parts.append(m.select("u", "v", F.lit(r).alias("matched_round")))
        mv = m.select(F.col("u").alias("vid")).unionByName(
            m.select(F.col("v").alias("vid"))
        )
        return (
            alive.join(mv.withColumnRenamed("vid", "u"), "u", "left_anti")
            .join(mv.withColumnRenamed("vid", "v"), "v", "left_anti")
            .select("u", "v", "p")
        )

    n_alive = iterate(
        "matching", alive, step, DataFrame.count,
        rounds=rounds if rounds is not None else max_rounds, probe_seed=True,
        converged=lambda n_alive, _: n_alive == 0, sever=True,
    ).value
    if n_alive > 0 and rounds is None:
        import warnings

        warnings.warn(
            f"maximal_matching: round budget exhausted with {n_alive} live "
            "edges — result is a matching but may not be maximal",
            stacklevel=2,
        )
    if not matched_parts:
        return spark.createDataFrame([], "u long, v long, matched_round int")
    out = matched_parts[0]
    for part in matched_parts[1:]:
        out = out.unionByName(part)
    return out.select(
        F.col("u").cast("long").alias("u"),
        F.col("v").cast("long").alias("v"),
        F.col("matched_round").cast("int").alias("matched_round"),
    )
