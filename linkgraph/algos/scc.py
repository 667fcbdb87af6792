"""Strongly connected components for DIRECTED graphs (SURVEY.md K6
family) — the data-parallel "coloring" algorithm (Orzan-style FW
partition + backward root-reach test), not Tarjan (inherently
sequential).

Round structure over the unassigned subgraph:
  1. f(v) = min vid with a directed path TO v (min-label forward
     propagation).  SCC members mutually reach, so they share ancestors,
     so f is CONSTANT on every SCC — the f-classes partition the graph
     with each SCC wholly inside a class, and each class root m has
     f(m) = m.
  2. br(v) = min vid v reaches WITHIN ITS CLASS (the same min-label
     kernel on class-restricted REVERSED edges).  br(v) == f(v) ⟺ v
     reaches its root ⟺ v ∈ SCC(f(v)): any v→root path stays in-class
     automatically (every vertex on it is mutually reachable with the
     root), so the restriction loses nothing.
  3. Assign comp = f(v) where br(v) == f(v); peel; repeat on the rest.

Why coloring instead of plain FW∩BW label equality: a decreasing chain
5→4→3→2→1 makes label-equality peel ONE vertex per round (O(V) rounds);
here every singleton f-class assigns immediately, so that chain finishes
in a single round — rounds track SCC nesting depth along decreasing
roots, which is small on any non-adversarial graph.

Both propagations POINTER-DOUBLE (lbl(v) ← min(lbl(v), lbl(lbl(v))) is
valid because lbl(v) reaches v transitively), so each converges in
O(log longest-path) fused one-job iterations (loop.iterate, probed by
the changed-label count).

Stat severance: doubling references the state THREE times per iteration
(message join, outer join, doubling mapping), and `localCheckpoint`
copies the PRE-cache-substitution plan's statistics into each new leaf,
so the sizeInBytes digit count grows ×3 per iteration (the general rule:
×k for k state references — ktruss.py documents the k=4 case) until
Catalyst spends its time multiplying huge BigInts.  The LP therefore
runs with loop.iterate's `sever`, a parquet round-trip every SEVER_EVERY
iterations: ×3^6 ≈ 7×10^2 digit cap keeps every stats product trivial
while amortizing the parquet write to ~1-2 per propagation at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.loop import Store, iterate, iteration_plan

def _min_label_reach(edges: DataFrame, init: DataFrame, max_iter: int) -> DataFrame:
    """(vid, lbl): lbl = min vid with a directed path TO vid (incl. vid).
    init: (vid, lbl) starting labels (vid, vid).  Pointer-doubled."""

    def step(lbl: DataFrame, _r: int, _last) -> DataFrame:
        msgs = (
            lbl.join(edges, lbl["vid"] == edges["src"])
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.min("lbl").alias("nl"))
        )
        stepped = lbl.join(msgs, "vid", "left").select(
            "vid",
            F.least(F.col("lbl"), F.coalesce(F.col("nl"), F.col("lbl"))).alias("lbl"),
            F.col("lbl").alias("pl"),
        )
        # pointer doubling: lbl(v) <- min(lbl(v), lbl(lbl(v))) — valid
        # because lbl(v) reaches v, so anything reaching lbl(v) reaches v
        mapping = lbl.select(F.col("vid").alias("lbl"), F.col("lbl").alias("ll"))
        return stepped.join(mapping, "lbl", "left").select(
            "vid",
            F.least(F.col("lbl"), F.coalesce(F.col("ll"), F.col("lbl"))).alias("lbl"),
            "pl",
        )

    def changed(lbl: DataFrame) -> int:
        return int(
            lbl.agg(
                F.sum(F.when(F.col("lbl") != F.col("pl"), 1).otherwise(0)).alias("n")
            ).first()["n"]
            or 0
        )

    run = iterate(
        "scc_reach", init.select("vid", "lbl"), step, changed,
        rounds=max_iter, converged=lambda n, _: n == 0, sever=True,
    )
    if not run.converged:
        # max_iter exhausted before the label fixpoint: stale labels can
        # split one SCC across comp values WITHOUT leaving any vertex
        # unassigned, so the outer incomplete-result warning never fires —
        # surface the budget exhaustion here (mirrors the outer warn)
        import warnings

        warnings.warn(
            f"_min_label_reach: max_iter={max_iter} exhausted with "
            f"{run.value} labels still changing — component labels may be "
            "split; raise max_iter",
            stacklevel=2,
        )
    return run.state.select("vid", "lbl")


def _trim(e, verts, nv, store, assigned_parts, max_trim=100):
    """FW-BW-Trim: iteratively peel vertices with no in-edge or no
    out-edge in the remaining graph — each is a singleton SCC (nothing
    off a cycle survives trim).  Tendril-heavy graphs shed the bulk of
    their vertices here for semi-joins, orders of magnitude cheaper than
    label propagation rounds.

    Per layer: ONE count action; plan trees are cut by LAZY
    localCheckpoint each layer (each layer references its inputs 2-3
    times, so an uncut tree grows ×4-5 per layer and the ANALYZER — not
    stats this time — becomes the wedge; semi-join chains have no
    join-stat product, so localCheckpoint is sufficient severance here
    and no parquet round-trip is needed).  The phase's trimmed set is
    assigned with ONE anti-join at the end instead of one checkpoint per
    layer — the entry verts table is checkpoint- or store-backed, so it
    remains valid after the loop's intermediates are dropped."""
    verts0, nv0 = verts, nv
    for _ in range(max_trim):
        if nv == 0:
            break
        good = (
            verts.join(
                e.select(F.col("src").alias("vid")).distinct(), "vid", "left_semi"
            )
            .join(e.select(F.col("dst").alias("vid")).distinct(), "vid", "left_semi")
            .localCheckpoint(eager=False)
        )
        ng = good.count()
        if ng == nv:
            break
        verts = good
        nv = ng
        e = (
            e.join(good.withColumnRenamed("vid", "src"), "src", "left_semi")
            .join(good.withColumnRenamed("vid", "dst"), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint(eager=False)
        )
    if nv != nv0:
        # re-anchor the survivors in the store: the anti-join and the
        # caller both build on them, and file-backed leaves keep every
        # downstream plan (and its stats) small
        verts = store.sever(verts)
        e = store.sever(e)
        assigned_parts.append(
            verts0.join(verts, "vid", "left_anti")
            .select("vid", F.col("vid").alias("comp"))
            .localCheckpoint(eager=True)
        )
    return e, verts, nv


def strongly_connected_components(
    edges: DataFrame, max_rounds: int = 64, max_iter: int = 200
) -> DataFrame:
    """edges: DIRECTED (src, dst).  Returns (vid, comp) with
    comp = min vid in the vertex's SCC.  Exact at convergence.

    Phase order: trim → (color → peel → trim)*, the classic FW-BW-Trim
    interleave — peeling an SCC exposes fresh sources/sinks, so re-trim
    after every coloring round."""
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    verts = (
        e.select(F.col("src").alias("vid"))
        .union(e.select(F.col("dst").alias("vid")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    store = Store(spark)
    nv = verts.count()

    # iteration tables are |V|-row; at small |V| the session's shuffle
    # width is pure task overhead (AQE would coalesce, but the iteration
    # profile runs AQE-off), so size the loop's shuffles to the graph
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        # the conf can be non-numeric on AQE-auto deployments ("auto");
        # skip the loop-width override there rather than crash
        loop_p = max(4, min(int(old_sp), nv // 50_000 + 4))
    except (TypeError, ValueError):
        loop_p = None

    assigned_parts: list[DataFrame] = []
    try:
        if loop_p is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(loop_p))
        with iteration_plan(spark):
            e, verts, nv = _trim(e, verts, nv, store, assigned_parts)
            for _ in range(max_rounds):
                if nv == 0:
                    break
                init = verts.select("vid", F.col("vid").alias("lbl"))
                # every round-level table goes through the FS store, not
                # localCheckpoint: a propagation over an edge table with
                # d-digit originStats re-amplifies those d digits ×3 per
                # iteration regardless of label severing, so the EDGE
                # side must carry file-backed (small, real) stats too
                f = store.sever(_min_label_reach(e, init, max_iter))

                # class-restricted reversed edges: both endpoints share f
                fe = f.withColumnRenamed("vid", "src").withColumnRenamed("lbl", "fs")
                fd = f.withColumnRenamed("vid", "dst").withColumnRenamed("lbl", "fd")
                rev_class = store.sever(
                    e.join(fe, "src")
                    .join(fd, "dst")
                    .where(F.col("fs") == F.col("fd"))
                    .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                )
                br = _min_label_reach(rev_class, init, max_iter)

                joined = f.join(br.withColumnRenamed("lbl", "br"), "vid")
                # `done` escapes this function (and outlives
                # store.cleanup), so it is materialized into executor
                # blocks, not store files
                done = (
                    joined.where(F.col("lbl") == F.col("br"))
                    .select("vid", F.col("lbl").alias("comp"))
                    .localCheckpoint(eager=True)
                )
                assigned_parts.append(done)
                verts = store.sever(
                    joined.where(F.col("lbl") != F.col("br")).select("vid")
                )
                nv = verts.count()
                if nv == 0:
                    break
                # restrict edges to unassigned vertices, then re-trim:
                # peeling exposes fresh sources/sinks
                e = store.sever(
                    e.join(verts.withColumnRenamed("vid", "src"), "src", "left_semi")
                    .join(verts.withColumnRenamed("vid", "dst"), "dst", "left_semi")
                    .select("src", "dst")
                )
                e, verts, nv = _trim(e, verts, nv, store, assigned_parts)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)

    store.cleanup()  # everything kept is eager-checkpointed; scratch only
    if nv > 0:
        import warnings

        warnings.warn(
            f"strongly_connected_components: max_rounds={max_rounds} (or an "
            f"inner max_iter={max_iter}) exhausted with {nv} vertices still "
            "unassigned — the returned mapping is INCOMPLETE",
            stacklevel=2,
        )
    if not assigned_parts:
        return spark.createDataFrame([], "vid long, comp long")
    out = assigned_parts[0]
    for p in assigned_parts[1:]:
        out = out.union(p)
    return out.select(F.col("vid").cast("long"), F.col("comp").cast("long"))


def bowtie_decomposition(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Bow-tie structure map of a directed graph [Broder et al., WWW
    2000, public formulation]: one row (scc_size, in_size, out_size,
    other_size, n_vertices) where SCC is the LARGEST strongly connected
    component, IN the vertices reaching it (but not in it), OUT those it
    reaches, and OTHER the rest (tendrils/tubes/disconnected) — the
    first structural question asked of any web-scale directed graph.

    Pipeline: `strongly_connected_components` → largest component
    (max size, min-comp-id tie-break — one bounded scalar action) →
    forward reachability by iterative frontier expansion over the edge
    table and backward over its transpose (each round ONE semi-join
    expand + an anti-join against the visited set, frontier rows
    measured; O(diameter) rounds).  All-integer output.
    """
    spark = edges.sparkSession
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst")).distinct()
    e = e.persist()
    comp = strongly_connected_components(e)
    comp = comp.persist()
    top = (
        comp.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("comp").asc())
        .first()
    )
    scc = comp.where(F.col("comp") == int(top["comp"])).select("vid")
    scc = scc.localCheckpoint(eager=True)
    scc_size = int(top["n"])

    def reach(ed: DataFrame) -> DataFrame:
        """All vertices reachable from the SCC set along `ed` (SCC
        members excluded from the result)."""
        visited = scc
        frontier = scc
        for _ in range(max_rounds):
            nxt = (
                ed.join(frontier.withColumnRenamed("vid", "src"), "src")
                .select(F.col("dst").alias("vid"))
                .distinct()
                .join(visited, "vid", "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.isEmpty():
                break
            visited = visited.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
        return visited.join(scc, "vid", "left_anti")

    out_set = reach(e)
    in_set = reach(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    verts = e.select(F.col("src").alias("vid")).unionByName(
        e.select(F.col("dst").alias("vid"))
    ).distinct()
    n_total = verts.count()
    out_size = out_set.count()
    in_size = in_set.count()
    e.unpersist()
    comp.unpersist()
    return spark.createDataFrame(
        [
            (
                scc_size,
                in_size,
                out_size,
                n_total - scc_size - in_size - out_size,
                n_total,
            )
        ],
        "scc_size long, in_size long, out_size long, other_size long, n_vertices long",
    )


def condensation_layers(
    edges: DataFrame, rounds: int | None = 8, max_rounds: int = 256
) -> DataFrame:
    """(comp, depth): longest-path LAYER of every SCC in the condensation
    quotient DAG — the topological structure report of a directed graph
    (condensing the SCCs is what makes layering well-defined at all; the
    raw graph has cycles).  depth(c) = length of the longest condensation
    path ending at c, so layer-0 components are the sources and max depth
    is the DAG's critical-path length.

    Max-plus relaxation over the quotient edges: per sweep ONE
    co-partitioned join (ce ⋈ depth on the source component) + one
    partial+final MAX per component — the min-label CC shape with max-plus
    algebra, O(|E_c|) per sweep, no windows.  The quotient is acyclic, so
    depths are monotone non-decreasing and converge in (critical path)
    sweeps; the integer SUM(depth) is therefore a one-action convergence
    probe (unchanged sum == fixpoint — values only ever grow).

    rounds=R runs exactly R sweeps (mirrorable by an unrolled SQL chain,
    identical even if not yet converged); rounds=None runs to fixpoint and
    WARNS if max_rounds is exhausted first (scc.py's budget discipline).
    """
    comp = strongly_connected_components(edges)
    e = (
        edges.select(
            F.col("src").cast("long").alias("src"),
            F.col("dst").cast("long").alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    cs = comp.select(F.col("vid").alias("src"), F.col("comp").alias("c_src"))
    cd = comp.select(F.col("vid").alias("dst"), F.col("comp").alias("c_dst"))
    ce = (
        e.join(cs, "src")
        .join(cd, "dst")
        .where(F.col("c_src") != F.col("c_dst"))
        .select(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    def step(depth: DataFrame, _r: int, _last) -> DataFrame:
        msgs = ce.join(depth.withColumnRenamed("c", "src"), "src").select(
            F.col("dst").alias("c"), (F.col("depth") + 1).alias("depth")
        )
        return depth.unionByName(msgs).groupBy("c").agg(F.max("depth").alias("depth"))

    run = iterate(
        "condensation",
        comp.select(F.col("comp").alias("c")).distinct()
        .withColumn("depth", F.lit(0).cast("long")),
        step,
        # fixed rounds: the eager checkpoint is the round's only action
        None if rounds is not None else (lambda d: d.agg(F.sum("depth")).first()[0] or 0),
        rounds=rounds if rounds is not None else max_rounds, last=0, eager=True,
        converged=lambda s, prev_s: rounds is None and s == prev_s,
    )
    if rounds is None and not run.converged:
        import warnings

        warnings.warn(
            f"condensation_layers: max_rounds={max_rounds} exhausted "
            "before the depth fixpoint; layers may be lower bounds",
            stacklevel=2,
        )
    return run.state.select(
        F.col("c").cast("long").alias("comp"),
        F.col("depth").cast("long").alias("depth"),
    )
