"""Betweenness centrality — sampled Brandes, fully relational (K6 family).

Brandes' algorithm [Brandes 2001] re-expressed as level-synchronous
DataFrame passes over the batch of sample sources ("roots"), the
Brandes–Pich sampling estimator (bc ≈ n/|S| · Σ_{s∈S} δ_s) for the
at-scale path:

* forward: per-level frontier-expand through `LinkGraph.expand` (the
  same J1/J2 dispatch as MS-BFS/PageRank — broadcast when small, salted
  shuffle on hubby graphs), shortest-path counts σ as a `sum` aggregate
  keyed on (root, dst), newly-reached vertices via a compound-key
  anti-join against the accumulated state;
* backward: δ accumulation from the deepest level inward — one expand +
  join + aggregate per level, δ(u) = Σ_{w∈succ(u)} σ_u/σ_w · (1+δ_w);
* every per-level frame is lazily localCheckpoint'd and materialized by
  its count action — the one-job-per-iteration shape shared with
  PR/CC/LPA; lineage never deepens past a level.

σ stays exact in doubles (integer-valued below 2^53); δ is a float sum
whose only cross-engine divergence vs the unrolled DuckDB oracle is
summation order (~1e-16 relative), absorbed by round-6 at the driver.

On symmetric (undirected-closure) graphs each unordered pair is counted
in both directions, i.e. values are 2× the undirected-textbook bc —
consistent with the oracle, which walks the same directed edge table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph
from linkgraph.loop import broadcast_fits, iteration_plan


def _bc(df: DataFrame, est_rows: int, ncols: int):
    """Byte-gated broadcast (LinkGraph.expand's J1 rule) driven by the
    MEASURED per-level row counts the forward pass already tracks — a
    dense middle level is Θ(|roots|·|V|) rows and must NOT broadcast."""
    if broadcast_fits(df.sparkSession, est_rows, ncols):
        return F.broadcast(df)
    return df


def betweenness(
    graph: LinkGraph,
    roots: list[int],
    max_levels: int = 8,
    scale: bool = True,
) -> DataFrame:
    """Returns (vid, bc): estimated betweenness from the `roots` sample.

    scale=True applies the Brandes–Pich factor n/|roots| so the estimate
    targets the full-graph bc; scale=False returns the raw δ sums
    (exact bc when roots = all vertices).  Vertices on no sampled
    shortest path are omitted (bc estimate 0).
    """
    if not roots:
        raise ValueError("betweenness needs a non-empty root sample")
    spark = graph.spark
    n = graph.num_vertices()
    factor = (float(n) / len(roots)) if scale else 1.0

    root_df = spark.createDataFrame([(int(r),) for r in roots], "root long")
    state = root_df.select(
        "root",
        F.col("root").alias("vid"),
        F.lit(0).alias("dist"),
        F.lit(1.0).alias("sigma"),
    ).localCheckpoint(eager=True)

    levels = [state]  # per-level (root, vid, dist, sigma) frames
    # Measured row count per level, carried into expand(est_rows=...) exactly
    # like sssp.py's frontier_rows: a dense middle level is Θ(|roots|·|V|)
    # rows, and a hardcoded estimate would force-broadcast it (OOM at scale).
    level_rows = [len(roots)]
    state_rows = len(roots)
    with iteration_plan(spark):
        frontier = state
        for lvl in range(1, max_levels + 1):
            msgs = frontier.select(
                F.col("vid").alias("src"), "root", "sigma"
            )
            agg = (
                graph.expand(msgs, est_rows=level_rows[-1])
                .groupBy("root", "dst")
                .agg(F.sum("sigma").alias("sigma"))
            )
            # anti-join against the accumulated state: byte-gated
            # broadcast on the MEASURED state size so the fresh per-level
            # aggregate never re-shuffles when the state is small
            seen = _bc(state.select("root", "vid"), state_rows, 2)
            new = (
                agg.join(
                    seen,
                    (agg.root == seen.root) & (agg.dst == seen.vid),
                    "left_anti",
                )
                .select(
                    "root",
                    F.col("dst").alias("vid"),
                    F.lit(lvl).alias("dist"),
                    "sigma",
                )
                .localCheckpoint(eager=False)
            )
            new_rows = new.count()
            if new_rows == 0:
                break
            levels.append(new)
            level_rows.append(max(int(new_rows), 1))
            state_rows += int(new_rows)
            state = state.union(new).localCheckpoint(eager=False)
            frontier = new

        deepest = len(levels) - 1
        # backward dependency accumulation; w-frame = (root, vid, sigma, delta)
        wl = levels[deepest].select("root", "vid", "sigma", F.lit(0.0).alias("delta"))
        wl_rows = level_rows[deepest]
        parts = [wl.where(F.col("vid") != F.col("root"))]
        for lvl in range(deepest - 1, -1, -1):
            u = levels[lvl]
            msgs = u.select(F.col("vid").alias("src"), "root", "sigma")
            succ = graph.expand(msgs, est_rows=level_rows[lvl]).select(
                F.col("src").alias("uvid"),
                F.col("root").alias("uroot"),
                F.col("sigma").alias("usigma"),
                "dst",
            )
            # the successor-side join against the (level-sized) w-frame is
            # the backward pass's heavy hitter: without the gate it
            # re-shuffles the Θ(level·deg) expansion every level
            wlj = _bc(wl, wl_rows, 4)
            contrib = (
                succ.join(
                    wlj,
                    (succ.uroot == wlj.root) & (succ.dst == wlj.vid),
                )
                .select(
                    "uroot",
                    "uvid",
                    (
                        F.col("usigma") / F.col("sigma") * (F.lit(1.0) + F.col("delta"))
                    ).alias("term"),
                )
                .groupBy("uroot", "uvid")
                .agg(F.sum("term").alias("delta"))
            )
            contrib = _bc(contrib, level_rows[lvl], 3)
            wl = (
                u.join(
                    contrib,
                    (u.root == contrib.uroot) & (u.vid == contrib.uvid),
                    "left",
                )
                .select(
                    "root",
                    "vid",
                    "sigma",
                    F.coalesce(F.col("delta"), F.lit(0.0)).alias("delta"),
                )
                .localCheckpoint(eager=False)
            )
            wl.count()
            wl_rows = level_rows[lvl]
            parts.append(wl.where(F.col("vid") != F.col("root")))

        out = parts[0]
        for p in parts[1:]:
            out = out.union(p)
        return (
            out.groupBy("vid")
            .agg(F.sum("delta").alias("d"))
            .select(
                F.col("vid").cast("long").alias("vid"),
                F.round(F.col("d") * F.lit(factor), 6).alias("bc"),
            )
        )


def edge_betweenness(
    graph: LinkGraph,
    roots: list[int],
    max_levels: int = 8,
    scale: bool = True,
    topk: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Sampled-Brandes EDGE betweenness: (u, v, ebc) over directed edges
    on sampled shortest paths — the Girvan–Newman community-detection
    step and the standard "which links carry the traffic?" ranking.

    The per-edge dependency is exactly the term the vertex backward pass
    aggregates one step later: for u at depth d with successor w,
    contribution σ_u/σ_w · (1 + δ_w) flows along edge (u, w) — so this
    runs the same forward pass as `betweenness` (same measured per-level
    est_rows carried into every expand — the round-4 broadcast-gate
    lesson) and, in the backward pass, aggregates the SAME terms by edge
    (summed over roots per level) as well as by vertex (for δ).  Edges on
    no sampled shortest path are omitted (estimate 0); `scale` applies
    the Brandes–Pich n/|roots| factor.  Determinism: rounded ebc with
    (u, v) tie-breaks orders the optional top-k.
    """
    if not roots:
        raise ValueError("edge_betweenness needs a non-empty root sample")
    spark = graph.spark
    n = graph.num_vertices()
    factor = (float(n) / len(roots)) if scale else 1.0

    # ---- forward pass: mirrors `betweenness` (kept verbatim so the
    # proven vertex path stays untouched; see its comments)
    root_df = spark.createDataFrame([(int(r),) for r in roots], "root long")
    state = root_df.select(
        "root",
        F.col("root").alias("vid"),
        F.lit(0).alias("dist"),
        F.lit(1.0).alias("sigma"),
    ).localCheckpoint(eager=True)
    levels = [state]
    level_rows = [len(roots)]
    state_rows = len(roots)
    with iteration_plan(spark):
        frontier = state
        for lvl in range(1, max_levels + 1):
            msgs = frontier.select(F.col("vid").alias("src"), "root", "sigma")
            agg = (
                graph.expand(msgs, est_rows=level_rows[-1])
                .groupBy("root", "dst")
                .agg(F.sum("sigma").alias("sigma"))
            )
            seen = _bc(state.select("root", "vid"), state_rows, 2)
            new = (
                agg.join(
                    seen,
                    (agg.root == seen.root) & (agg.dst == seen.vid),
                    "left_anti",
                )
                .select(
                    "root",
                    F.col("dst").alias("vid"),
                    F.lit(lvl).alias("dist"),
                    "sigma",
                )
                .localCheckpoint(eager=False)
            )
            new_rows = new.count()
            if new_rows == 0:
                break
            levels.append(new)
            level_rows.append(max(int(new_rows), 1))
            state_rows += int(new_rows)
            state = state.union(new).localCheckpoint(eager=False)
            frontier = new

        # ---- backward pass: per-level edge terms + vertex delta
        deepest = len(levels) - 1
        wl = levels[deepest].select("root", "vid", "sigma", F.lit(0.0).alias("delta"))
        wl_rows = level_rows[deepest]
        edge_parts: list[DataFrame] = []
        for lvl in range(deepest - 1, -1, -1):
            u = levels[lvl]
            msgs = u.select(F.col("vid").alias("src"), "root", "sigma")
            succ = graph.expand(msgs, est_rows=level_rows[lvl]).select(
                F.col("src").alias("uvid"),
                F.col("root").alias("uroot"),
                F.col("sigma").alias("usigma"),
                "dst",
            )
            wlj = _bc(wl, wl_rows, 4)
            terms = succ.join(
                wlj, (succ.uroot == wlj.root) & (succ.dst == wlj.vid)
            ).select(
                "uroot",
                "uvid",
                "dst",
                (
                    F.col("usigma") / F.col("sigma") * (F.lit(1.0) + F.col("delta"))
                ).alias("term"),
            )
            edge_parts.append(
                terms.groupBy(
                    F.col("uvid").alias("u"), F.col("dst").alias("v")
                ).agg(F.sum("term").alias("t"))
            )
            wl = (
                u.join(
                    _bc(
                        terms.groupBy("uroot", "uvid").agg(
                            F.sum("term").alias("delta")
                        ),
                        level_rows[lvl],
                        3,
                    ),
                    (u.root == F.col("uroot")) & (u.vid == F.col("uvid")),
                    "left",
                )
                .select(
                    "root",
                    "vid",
                    "sigma",
                    F.coalesce(F.col("delta"), F.lit(0.0)).alias("delta"),
                )
                .localCheckpoint(eager=False)
            )
            wl.count()
            wl_rows = level_rows[lvl]

        if not edge_parts:
            return spark.createDataFrame([], "u long, v long, ebc double")
        out = edge_parts[0]
        for p in edge_parts[1:]:
            out = out.unionByName(p)
        out = (
            out.groupBy("u", "v")
            .agg(F.round(F.sum("t") * F.lit(factor), round_to).alias("ebc"))
            .select(
                F.col("u").cast("long"), F.col("v").cast("long"), "ebc"
            )
        )
        if topk is not None:
            out = out.orderBy(
                F.col("ebc").desc(), F.col("u").asc(), F.col("v").asc()
            ).limit(topk)
        return out
