"""k-truss decomposition by iterative support peel (SURVEY.md K6 family).

The k-truss is the maximal subgraph where every edge participates in at
least k−2 triangles (its SUPPORT) inside the subgraph — the edge-analog of
the k-core vertex peel, and a much stronger cohesion filter (community
cores, spam-link pruning).

Peel round = one triangle enumeration over the surviving undirected edge
set (the J5 2-path + closing-join shape) + an explode of each triangle
onto its three edges + a partial+final count per edge + the support
filter.  The edge set only shrinks, so per-round cost is monotonically
decreasing; equal survivor count ⟹ identical set ⟹ fixpoint (the k-core
convergence argument, lifted to edges).

Lineage severance — why this kernel round-trips each round through an
FS-backed store instead of the lazy-localCheckpoint pattern the other
iterative kernels use
---------------------------------------------------------------------
Each round references the survivor table FOUR times in inner joins (the
two 2-path sides, the closing edge, and the left join back onto the edge
list).  `localCheckpoint` severs the *execution* lineage, but Spark 4's
`LogicalRDD.fromDataset` copies the checkpointed Dataset's PRE-cache-
substitution statistics into the new leaf (`originStats`): inner-join
sizeInBytes is the PRODUCT of the child sizes, so round i+1's originStats
≈ (round i's originStats)³ — measured digit counts 13 → 36 → 107 → 320 →
958 → 2874 on a 120-vertex fixture, i.e. the stat value's digit count
TRIPLES per round no matter what is persisted or memoized.  Every
stats consumer (JoinSelection.canBroadcastBySize during physical
planning, InjectRuntimeFilter during optimization) then multiplies
million-digit BigInts: jstack during round 13 shows
BigInteger.multiplyToomCook3 under SizeInBytesOnlyStatsPlanVisitor, and
per-phase timing shows optimize/physical/checkpoint each growing ×4-5
per round (0.3 s → 36 s by round 13) while execution (`count`) stays
flat.  Disabling the runtime-filter rule or constraint propagation does
NOT help (A/B-probed) — the multiplication cost is in computing the stat
itself.

A parquet write + read-back resets the leaf statistic to the REAL file
size every round, so planning cost stays flat at any round depth — and
it is the honest 100 TB shape anyway: an iterative peel on a cluster
wants durable round boundaries (restartable, spill-free, real sizes for
join planning).  The edge set shrinks monotonically, so total I/O is
bounded by (#rounds × round-1 survivor bytes) and in practice dominated
by round 1.  Rounds alternate between two parity subdirs; the final
parity dir backs the returned DataFrame (same lifetime contract as
msbfs(emit_distances=True): driver-tempdir under local[*] masters,
explicit shared-storage `store_path` required on a cluster — enforced by
`edge_store_root`).

Two modes, mirroring the fixed-budget oracle pattern:
  rounds=None — peel to fixpoint;
  rounds=R    — exactly R peel rounds, SQL-mirrorable round for round
                (post-convergence rounds are identity).
"""

from __future__ import annotations

import posixpath
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkgraph.graph import LinkGraph, edge_store_root
from linkgraph.loop import iteration_plan


def _supports(t: DataFrame) -> DataFrame:
    """(src, dst, support) for every edge of the src<dst table `t`:
    support = number of triangles the edge closes within `t`."""
    e1 = t.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = t.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    closing = t.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(closing, ["a", "c"], "inner")
    sides = (
        tri.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(tri.select(F.col("b").alias("src"), F.col("c").alias("dst")))
        .union(tri.select(F.col("a").alias("src"), F.col("c").alias("dst")))
    )
    cnt = sides.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))
    return t.join(cnt, ["src", "dst"], "left").select(
        "src", "dst", F.coalesce(F.col("support"), F.lit(0)).alias("support")
    )


def k_truss(
    graph: LinkGraph,
    k: int,
    rounds: int | None = None,
    max_rounds: int = 1000,
    store_path: str | None = None,
) -> DataFrame:
    """Returns (src, dst, support): the src<dst edges of the k-truss (or of
    the R-round peel when `rounds` is given) with their triangle support
    inside the surviving subgraph.

    The returned DataFrame scans the final round's store directory under
    `store_path` (default: a fresh dir under `edge_store_root`) — it stays
    readable for the session; pass an explicit shared-storage `store_path`
    on a multi-executor cluster."""
    if k < 2:
        raise ValueError("k must be >= 2")
    if rounds is not None and rounds < 1:
        raise ValueError("rounds must be >= 1 (or None for fixpoint)")
    spark = graph.spark
    t = graph.edges.where(F.col("src") < F.col("dst")).select("src", "dst")

    store = store_path or posixpath.join(
        edge_store_root(spark), f"linkgraph_ktruss_{uuid.uuid4().hex}"
    )

    prev_n: int | None = None
    cur = None
    final_parity = 0
    with iteration_plan(spark):
        budget = rounds if rounds is not None else max_rounds
        for i in range(budget):
            parity = i % 2
            out_dir = posixpath.join(store, f"r{parity}")
            # the write is the round's action; the read-back leaf carries
            # the REAL file size into the next round's join planning
            _supports(t).where(F.col("support") >= k - 2).write.mode(
                "overwrite"
            ).parquet(out_dir)
            nxt = spark.read.parquet(out_dir).persist()
            if cur is not None:
                cur.unpersist()
            cur = nxt
            final_parity = parity
            t = nxt.select("src", "dst")
            if rounds is None:
                # fixpoint probe: equal survivor count ⟹ identical set
                # (monotone shrink).  Fixed-round mode skips the extra
                # job — the write is already the round's only action.
                n = nxt.count()
                if n == prev_n:
                    break
                prev_n = n
        else:
            if rounds is None:
                # budget exhausted before the equal-count probe fired: the
                # peel may not have converged (mirrors scc.py's warning)
                import warnings

                warnings.warn(
                    f"k_truss: max_rounds={max_rounds} exhausted before the "
                    "peel fixpoint — returned edge set may still shrink; "
                    "raise max_rounds",
                    stacklevel=2,
                )

    # the final parity dir backs the returned DataFrame; the other parity
    # dir is two-rounds-stale scratch — FS-API delete (file://, hdfs://,
    # s3a://), never shutil
    if cur is not None:
        cur.unpersist()
    try:
        from linkgraph.checkpoint import _HadoopFS

        fs = _HadoopFS(spark, store)
        stale = posixpath.join(store, f"r{1 - final_parity}")
        if fs.exists(stale):
            fs.delete(stale)
    except Exception:
        pass
    return spark.read.parquet(posixpath.join(store, f"r{final_parity}")).select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        F.col("support").cast("long").alias("support"),
    )
