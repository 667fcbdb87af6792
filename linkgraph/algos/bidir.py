"""Bidirectional s-t BFS — point-to-point distance by meet-in-the-middle.

The batch kernels (MS-BFS, SSSP) answer one-to-ALL questions; the
point-to-point question ("how far is conversation t from conversation
s?") is strictly cheaper when answered bidirectionally: expanding a
frontier of branching factor b to depth d costs O(b^d) edge traversals
one-sided but O(2·b^{d/2}) when grown from both ends — on a 100 TB graph
with d≈6 that is the difference between touching the whole graph and
touching a few million vertices.

Plan shape per round (one fused job, the MS-BFS discipline):

* pick the SIDE with the smaller measured frontier (the round-4
  broadcast-gate lesson: decisions ride measured counts, never guesses —
  the count is free, it is the convergence action of the previous round);
* one `LinkGraph.expand` frontier join (J1 dispatch: broadcast / salted /
  shuffle) + distinct + anti-join against that side's seen set;
* the new vertices are LEFT-joined against the OTHER side's seen set in
  the same job that materializes them, so the meet test costs no extra
  scan of either seen table beyond the join itself.

Termination is exact, not heuristic: with level-synchronous radii
(r_f, r_b), a common vertex exists iff dist(s,t) <= r_f + r_b, and the
FIRST time any common vertex v appears, min over meets of
d_f(v) + d_b(v) equals dist(s,t) exactly (take v on a shortest path at
distance min(r_f, D) from s: both halves are within the explored radii).
All meets at first-meet time involve the round's new vertices, so the
left join against the other side's seen set sees every candidate.

Directed graphs: pass `graph_rev` (the transpose LinkGraph) so the
backward frontier follows in-edges; on the symmetric derived link graph
the default (same graph both ways) is correct.

Integer-exact end to end — the oracle is a plain recursive-CTE BFS from
s capped at max_rounds levels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from linkgraph.graph import LinkGraph
from linkgraph.loop import iteration_plan


def st_distance(
    graph: LinkGraph,
    s: int,
    t: int,
    max_rounds: int = 16,
    graph_rev: LinkGraph | None = None,
) -> DataFrame:
    """(src_vid, dst_vid, dist): ONE row when t is within `max_rounds`
    hops of s, ZERO rows otherwise (disconnected, or farther than the
    budget) — the empty-result convention of the distance kernels.

    `max_rounds` bounds the TOTAL number of frontier expansions across
    both sides, i.e. exactly the maximum path length findable — mirror it
    with the oracle's recursion depth.
    """
    spark = graph.spark
    schema = "src_vid long, dst_vid long, dist long"
    if graph_rev is None:
        graph_rev = graph  # symmetric link graph: in-edges == out-edges
    s, t = int(s), int(t)
    if s == t:
        return spark.createDataFrame([(s, t, 0)], schema)

    f_seen = spark.createDataFrame([(s, 0)], "vid long, dist long")
    b_seen = spark.createDataFrame([(t, 0)], "vid long, dist long")
    f_front, b_front = f_seen, b_seen
    f_rows = b_rows = 1
    f_d = b_d = 0

    with iteration_plan(spark):
        for _ in range(max_rounds):
            if f_rows == 0 or b_rows == 0:
                return spark.createDataFrame([], schema)  # side exhausted
            forward = f_rows <= b_rows
            g = graph if forward else graph_rev
            front, seen, rows = (
                (f_front, f_seen, f_rows) if forward else (b_front, b_seen, b_rows)
            )
            other = b_seen if forward else f_seen
            d = (f_d if forward else b_d) + 1

            nxt = (
                g.expand(front.select(F.col("vid").alias("src")), est_rows=rows)
                .select(F.col("dst").alias("vid"))
                .distinct()
            )
            new = (
                nxt.join(seen, "vid", "left_anti")
                .withColumn("dist", F.lit(d).cast("long"))
                # meet probe rides the materializing job: dist_o is the
                # other side's exact level for vertices both sides reached
                .join(
                    other.withColumnRenamed("dist", "dist_o"), "vid", "left"
                )
                .localCheckpoint(eager=True)
            )
            n_new, meet = new.agg(
                F.count(F.lit(1)), F.min(F.col("dist") + F.col("dist_o"))
            ).first()
            if meet is not None:
                return spark.createDataFrame([(s, t, int(meet))], schema)
            grown = seen.unionByName(new.drop("dist_o"))
            if forward:
                f_seen, f_front, f_rows, f_d = grown, new.drop("dist_o"), n_new, d
            else:
                b_seen, b_front, b_rows, b_d = grown, new.drop("dist_o"), n_new, d

    return spark.createDataFrame([], schema)
