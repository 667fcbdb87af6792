"""HITS hubs & authorities (Kleinberg 1999) — fixed-budget power iteration.

Directed-graph kernel: per round, authority(v) = Σ_{u→v} hub(u) then
hub(u) = Σ_{u→v} auth(v), each L2-normalized over ALL vertices.  Runs a
fixed round budget so the computation is mirrorable step-for-step by an
unrolled SQL oracle (the PR/LPA fixed-budget pattern); scores converge to
the principal singular vectors of the adjacency matrix.

Plan shape (the PR one-job-per-step discipline):

* the authority half-step flows hub mass FORWARD through the graph's
  src-partitioned edge table via LinkGraph.expand (byte-gated broadcast /
  salted / plain shuffle);
* the hub half-step needs the TRANSPOSE expansion.  Rather than joining
  the edge table on dst (which would re-shuffle all |E| rows every
  round), the constructor builds a transpose LinkGraph once — the CSC to
  the forward table's CSR, the same pairing every matrix engine keeps for
  A·x vs Aᵀ·x — and both half-steps become co-partitioned expands;
* each half-step is ONE Spark job (one loop.iterate round): expand +
  aggregate, probed by the Σx² norm aggregate whose scalar then rides
  into the next half-step as a literal (the normalization division
  never needs its own pass).  Vertices receiving no mass stay absent
  from the loop state (zero rows change neither the norm nor the next
  expansion); the vertex set is attached once at the end.

Determinism: float summation order differs across engines, so outputs
are rounded (`round_to`) for oracle comparison; raw doubles agree to
~1e-12 at the tested scales.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.loop import iterate


def hits(
    graph: LinkGraph,
    rounds: int = 8,
    round_to: int | None = 6,
    transpose: LinkGraph | None = None,
) -> DataFrame:
    """Returns (vid, hub, auth) over all vertices of the directed graph.

    transpose: pass a pre-built reverse-edge LinkGraph to reuse across
    calls; built (and released) internally otherwise.
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    own_transpose = transpose is None
    gt = transpose or LinkGraph(
        graph.edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
        materialize=False,
    )
    verts = graph.vertices().select("vid").localCheckpoint(eager=True)
    n = verts.count()

    norms: list[float] = []

    def half_step(raw: DataFrame, r: int, norm: float) -> DataFrame:
        """One half-step: flow the normalized scores along the forward
        edges (odd r: auth(v) = Σ hub over in-edges) or the transpose
        (even r: hub(u) = Σ auth over out-edges), summed per destination.
        Vertices receiving no mass are simply ABSENT from the result — a
        zero score contributes nothing to the next expansion nor to the
        L2 norm, so the full vertex set is re-attached once at the end."""
        msgs = raw.select(F.col("vid").alias("src"), (F.col("x") / F.lit(norm)).alias("x"))
        return (
            (graph if r % 2 else gt).expand(msgs, est_rows=n)
            .groupBy("dst")
            .agg(F.sum("x").alias("x"))
            .withColumnRenamed("dst", "vid")
        )

    def l2(raw: DataFrame) -> float:
        sq = raw.agg(F.sum(F.col("x") * F.col("x")).alias("s")).first()["s"]
        norms.append(math.sqrt(sq))
        return norms[-1]

    # hub starts uniform at 1/sqrt(n) (unit L2 norm) — any positive start
    # converges; unit-norm keeps intermediate magnitudes O(1).
    raw_a, raw_h = iterate(
        "hits", verts.select("vid", F.lit(1.0 / math.sqrt(n)).alias("x")),
        half_step, l2, rounds=2 * rounds, last=1.0, keep=2,
    ).kept
    a = raw_a.select("vid", (F.col("x") / F.lit(norms[-2])).alias("x"))
    h = raw_h.select("vid", (F.col("x") / F.lit(norms[-1])).alias("x"))

    hub_col = F.coalesce(F.col("h.x"), F.lit(0.0))
    auth_col = F.coalesce(F.col("a.x"), F.lit(0.0))
    if round_to is not None:
        hub_col = F.round(hub_col, round_to)
        auth_col = F.round(auth_col, round_to)
    out = (
        verts.alias("v")
        .join(h.alias("h"), F.col("v.vid") == F.col("h.vid"), "left")
        .join(a.alias("a"), F.col("v.vid") == F.col("a.vid"), "left")
        .select(F.col("v.vid").alias("vid"), hub_col.alias("hub"), auth_col.alias("auth"))
    )
    if own_transpose:
        # materialize before releasing the transpose cache the plan reads
        out = out.localCheckpoint(eager=True)
        gt.unpersist()
    return out
