"""Batched multi-source BFS (MS-BFS) with 512-bit packed frontier/seen state.

Spark-native re-expression of [MSBFS15] Alg. 2/3 (SURVEY.md §2.9 K1/K2):

* state DataFrame: (vid, s0..s7, v0..v7) — seen/visit bitsets as 8 int64
  limbs each; bit j = BFS lane j of the 512-source batch.
* one level = frontier-expand equi-join (J1) + bitwise-OR aggregation by
  dst (A1).  Spark's partial+final hash aggregate of `bit_or` IS the
  paper's aggregated-neighbor-processing (ANP) optimization.
* masking/update (seen' = seen|agg, visit' = agg & ~seen) is pure int64
  column arithmetic — WholeStageCodegen, no Python in the hot path.
* per-level lane accounting (closeness r/s, frontier emptiness) is a
  byte-slot histogram: explode + groupBy(key).sum, ≤16 388 groups, that
  the driver unpacks into lane counts with numpy.  The per-level distance
  deltas and the K3 closed bitmap are Catalyst expressions too, so no
  level job starts a Python worker (each Python task costs a fixed
  ~0.2-0.3 s of worker CPU, more than a small level's bitwise work).
* direction/strategy switch (K3 analog): the frontier side is broadcast
  when small (first/last levels), shuffled-hash otherwise; the edge table
  never re-shuffles (partitioned by src at build).

Two aggregation modes, cross-checked in tests (the reference's own
cross-variant validation strategy):
  relational — groupBy(dst).agg(bit_or(limb)...)           [default]
  kernel     — applyInPandas numpy bitwise_or.reduceat per dst bucket
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from linkgraph.graph import LinkGraph, broadcast_threshold, parse_bytes
from linkgraph.operators.bitset import limb_names, pack_sources
from linkgraph.schemas import NLIMBS, bfs_state_schema

_S = limb_names("s")
_V = limb_names("v")
_A = limb_names("a")


@dataclass
class MsBfsResult:
    sources: list[int]
    levels: int
    r: np.ndarray  # per-lane reachable count (incl. source)
    s: np.ndarray  # per-lane sum of distances
    wall_sec: float
    h: np.ndarray | None = None  # per-lane harmonic sum Σ 1/d (excl. source)
    ecc: np.ndarray | None = None  # per-lane eccentricity (max finite distance)
    traversed_bit_edges: int = 0
    distances_df: DataFrame | None = None  # distributed (src, vid, dist)
    per_level_new: list[int] = field(default_factory=list)
    strategies: list[str] = field(default_factory=list)  # per-level K3 choice
    _distances_pdf: pd.DataFrame | None = None

    def gteps(self) -> float:
        return self.traversed_bit_edges / self.wall_sec / 1e9 if self.wall_sec else 0.0

    @property
    def distances(self) -> pd.DataFrame | None:
        """Driver-side copy of the distances — for tests / small graphs
        only.  At scale consume `distances_df` (a distributed DataFrame
        backed by per-level parquet appends); n×512 distances through the
        driver is terabytes."""
        if self._distances_pdf is None and self.distances_df is not None:
            self._distances_pdf = self.distances_df.toPandas().astype(
                {"src": np.int64, "vid": np.int64, "dist": np.int32}
            )
        return self._distances_pdf


# bit k of byte b, little-endian: (256, 8) — unpacks the byte-slot histogram
_BYTE_BITS = np.unpackbits(
    np.arange(256, dtype=np.uint8)[:, None], axis=1, bitorder="little"
).astype(np.int64)


def _lane_accounting(
    state: DataFrame, nsrc: int, with_deg: bool = False, full_masks=None
) -> DataFrame:
    """Per-level lane accounting as a byte-slot histogram (key, cnt) — pure
    Catalyst, so the fused level job starts no Python worker.

    Byte j of visit limb i is slot 8i+j and covers lanes 64i+8j..+7.  Each
    frontier row emits (slot*256 + byte, 1) for every slot holding a lane
    < nsrc; `_unpack_lane_counts` turns the ≤16 384 byte counts into lane
    counts.  Sentinel keys, each a sum over state rows:
    -1: frontier rows (any visit bit set);
    -2 (when with_deg): Σ deg(v)·popcount(v) over frontier rows — the exact
    (edge, lane) expansion count of the NEXT level (TEPS accounting);
    -3 (when full_masks): CLOSED rows (seen full across all lanes) — drives
    the K3 pull-filter gate, measured for free in the same state scan;
    -4: state rows — lets the bottom-up gate know when the state covers all
    |V| vertices (open set = not-closed state rows exactly).
    Idle rows emit only the -3/-4 entries, and partial aggregation collapses
    the explode map-side to ≤16 388 groups per task.
    """

    def entry(key, cnt) -> str:
        return f"named_struct('key', cast({key} as int), 'cnt', cast({cnt} as bigint))"

    idle = [entry(-4, 1)]
    if full_masks is not None:
        closed = " and ".join(f"{c} = {m}L" for c, m in zip(_S, full_masks))
        idle.append(entry(-3, f"if({closed}, 1, 0)"))
    active = [entry(-1, 1), *idle]
    if with_deg:
        pop = " + ".join(f"bit_count({c})" for c in _V)
        active.append(entry(-2, f"deg * ({pop})"))
    for slot in range((nsrc + 7) // 8):
        byte = f"shiftright({_V[slot // 8]}, {8 * (slot % 8)}) & 255"
        active.append(entry(f"{slot * 256} + ({byte})", 1))
    frontier = " or ".join(f"{c} != 0" for c in _V)
    # one SQL string: building ~70 structs from Column functions costs ~1 s
    # of py4j round trips per level on the driver, parsing this ~10 ms
    return (
        state.select(
            F.expr(
                f"inline(if({frontier}, array({', '.join(active)}), "
                f"array({', '.join(idle)})))"
            )
        )
        .groupBy("key")
        .agg(F.sum("cnt").alias("cnt"))
    )


def _unpack_lane_counts(rows, nsrc: int) -> tuple[np.ndarray, dict[int, int]]:
    """(key, cnt) histogram rows -> (per-lane new-bit counts, sentinels)."""
    hist = np.zeros(NLIMBS * 8 * 256, dtype=np.int64)
    sentinels = {}
    for key, cnt in rows:
        if key < 0:
            sentinels[key] = int(cnt)
        else:
            hist[key] = cnt
    lanes = hist.reshape(NLIMBS * 8, 256) @ _BYTE_BITS  # (slot, bit) counts
    return lanes.reshape(-1)[:nsrc], sentinels


def _visit_lanes(state: DataFrame, nsrc: int) -> DataFrame:
    """(vid, v0..) -> (vid, lane) for every set visit bit of lanes < nsrc:
    explode the nonzero limbs, then their 64 bit positions — JVM-side."""
    limbs = _V[: (nsrc + 63) // 64]
    lane = F.col("_limb_i") * 64 + F.col("_bit")
    return (
        state.select("vid", F.posexplode(F.array(*limbs)).alias("_limb_i", "_limb"))
        .where(F.col("_limb") != 0)
        .select(
            "vid", "_limb_i", "_limb",
            F.explode(F.sequence(F.lit(0), F.lit(63))).alias("_bit"),
        )
        .where(
            (F.call_function("shiftright", "_limb", "_bit").bitwiseAND(1) == 1)
            & (lane < nsrc)
        )
        .select("vid", lane.cast("int").alias("lane"))
    )


def _closed_limb_table(state: DataFrame, closed_pred: str, max_vid: int) -> DataFrame:
    """K3 mid-range side-channel: the CLOSED vertex set as a bitmap packed
    into a (idx, limb) table — limb i holds the closed-bits of vertices
    [64i, 64i+64).

    The broadcast-set strategies cap out at autoBroadcastJoinThreshold rows
    of (dst) keys; the limb table is 64 vertices per row (1 bit vs ~24
    bytes per closed vertex), so the mid-range regime — open AND closed
    sets both beyond the row-broadcast threshold — still broadcasts easily
    (10^9 vertices = 15.6M rows / 125 MB of limbs, within
    spark.linkgraph.msbfs.bitmapMaxBytes).  Built distributedly as one
    bit_or aggregate on the limb index vid>>6: partial aggregation merges
    each task's bits map-side, at most (max_vid/64)+1 narrow rows ever move,
    and only NONZERO limbs ever exist, so sparsity is free.  max_vid bounds
    the table; the caller's budget gate checks it.  The consumer joins it
    broadcast and tests the bit with pure codegen'd int64 arithmetic — no
    Python, no shuffle (a first-cut mapInArrow message filter was measured
    14% SLOWER than the anti-join fallback at bench scale purely from
    Arrow-serializing every 9-column message row; BENCH/bitmap_bench.py)."""
    bit = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.col("vid").bitwiseAND(63).cast("int")
    )
    return (
        state.where(closed_pred)
        .groupBy(F.shiftright("vid", 6).alias("_bm_idx"))
        .agg(F.bit_or(bit).alias("_bm_limb"))
    )


def _kernel_or_agg(msgs: DataFrame, nlimbs: int, buckets: int) -> DataFrame:
    """K1(b): numpy bitwise_or.reduceat per dst, bucketed applyInPandas."""
    vcols = [f"v{i}" for i in range(nlimbs)]
    out_schema = "dst long, " + ", ".join(f"a{i} long" for i in range(nlimbs))

    def reduce_fn(pdf: pd.DataFrame) -> pd.DataFrame:
        dst = pdf["dst"].to_numpy(dtype=np.int64)
        limbs = pdf[vcols].to_numpy(dtype=np.int64).view(np.uint64)
        order = np.argsort(dst, kind="stable")
        dst_s, limbs_s = dst[order], limbs[order]
        starts = np.flatnonzero(np.r_[True, dst_s[1:] != dst_s[:-1]])
        ors = np.bitwise_or.reduceat(limbs_s, starts, axis=0).view(np.int64)
        out = {"dst": dst_s[starts]}
        for i in range(nlimbs):
            out[f"a{i}"] = ors[:, i]
        return pd.DataFrame(out)

    bucketed = msgs.withColumn("bucket", F.pmod(F.hash("dst"), F.lit(buckets)))
    return bucketed.groupBy("bucket").applyInPandas(
        lambda _, pdf: reduce_fn(pdf.drop(columns=["bucket"])), out_schema
    )


def msbfs(
    graph: LinkGraph,
    sources: list[int],
    mode: str = "relational",
    emit_distances: bool = False,
    distances_path: str | None = None,
    checkpoint_every: int = 1,
    snapshot_every: int = 8,
    max_levels: int | None = None,
    track_teps: bool = False,
    checkpoint_mgr=None,
    resume: bool = False,
    verbose: bool = False,
    bottom_up: bool = True,
    bottom_up_threshold: float = 0.5,
    bottom_up_bitmap: bool = True,
    eager_checkpoint: bool = False,
) -> MsBfsResult:
    """Run one ≤512-source batch to completion; returns lane accounting
    (r, s for closeness) and optionally full (src, vid, dist) distances.

    At scale, distances are not materialized n×512 (the reference streams
    them through a visitor); closeness needs only the r/s accumulators.

    eager_checkpoint=False (default) fuses the per-level work into ONE
    Spark job: the new state is lazily localCheckpointed (plan truncated
    immediately) and the next level's accounting scan is the action that
    materializes it — expand + OR-aggregate + update + lane accounting in a
    single job instead of the round-2 two-jobs-per-level shape (eager
    checkpoint job, then accounting job).  AQE is off inside the loop
    (iteration_plan), which is the regime where lazy truncation is
    deterministic; eager_checkpoint=True restores the old shape and the
    cross-variant test asserts both are bit-exact.
    """
    spark = graph.spark
    nsrc = len(sources)
    if nsrc == 0:
        raise ValueError("no sources")
    nlimbs = NLIMBS
    schema = bfs_state_schema(nlimbs)

    t0 = time.time()
    level = 0
    r = np.zeros(nsrc, dtype=np.int64)
    s = np.zeros(nsrc, dtype=np.int64)
    h = np.zeros(nsrc, dtype=np.float64)
    ecc = np.zeros(nsrc, dtype=np.int64)
    traversed = 0
    per_level_new: list[int] = []
    state = None
    if emit_distances and distances_path is None:
        import tempfile
        import uuid

        master = spark.conf.get("spark.master", "local")
        if not master.startswith("local"):
            raise ValueError(
                "emit_distances on a multi-executor cluster requires an explicit "
                "distances_path on shared storage: the driver-tempdir default is "
                "executor-local, so per-level deltas written by executors would "
                "not be readable back (pass e.g. the checkpoint root + '/distances')"
            )
        distances_path = os.path.join(
            tempfile.gettempdir(), f"msbfs_dist_{uuid.uuid4().hex}"
        )

    skip_account = False  # snapshot level was already accounted pre-snapshot
    resumed_level = None  # its snapshot is the state being read: never rewrite it
    if resume and checkpoint_mgr is not None:
        snap = checkpoint_mgr.latest()
        if snap is not None:
            state = checkpoint_mgr.read_state(snap).persist(StorageLevel.MEMORY_AND_DISK)
            m = snap["metrics"]
            level = resumed_level = int(m["level"])
            skip_account = True
            r = np.asarray(m["r"], dtype=np.int64)
            s = np.asarray(m["s"], dtype=np.int64)
            h = np.asarray(m.get("h", np.zeros(nsrc)), dtype=np.float64)
            ecc = np.asarray(m.get("ecc", np.zeros(nsrc)), dtype=np.int64)
            traversed = int(m.get("traversed", 0))
            per_level_new = list(m.get("per_level_new", []))
            if emit_distances and m.get("distances_path"):
                # distances live as distributed parquet; resume reuses the dir
                distances_path = m["distances_path"]

    if state is None:
        state = spark.createDataFrame(pack_sources(sources, nlimbs), schema=schema)
        state = state.persist(StorageLevel.MEMORY_AND_DISK)

    # K3 pull-filter constants: per-limb "all nsrc lanes seen" masks as
    # signed int64 literals (limb i covers lanes [64i, 64i+64))
    n_vertices = graph.num_vertices() if bottom_up else 0
    full_masks = []
    for i in range(nlimbs):
        bits = min(64, max(0, nsrc - 64 * i))
        full_masks.append(-1 if bits == 64 else (1 << bits) - 1)

    frontier_rows = None  # unknown until first accounting pass
    closed_rows = 0  # K3 gate: fully-seen vertex count, measured per level
    state_rows = 0  # K3 gate: state row count (== |V| once fully covered)
    prev_state = None  # kept cached until the new state is materialized
    strategies: list[str] = []  # per-level K3 choice (result diagnostics)

    from linkgraph.graph import iteration_plan

    with iteration_plan(spark):
        while True:
            t_lvl = time.time()
            if skip_account:
                # resumed: this level's bits were accounted before the snapshot
                skip_account = False
                new_total = per_level_new[level] if level < len(per_level_new) else 1
                frontier_rows = None
                closed_rows = 0  # unknown after resume; filter re-arms next level
                state_rows = 0
            else:
                # -- lane accounting on current visit bits.  This scan is the
                # ACTION that materializes the (lazily localCheckpointed) state
                # of the previous level's update — one fused Spark job per
                # level covers expand + OR-agg + mask/update + accounting.
                counts_in = state
                if track_teps:
                    deg = graph.degrees()
                    thresh = broadcast_threshold(spark)
                    if 0 < thresh and graph.num_vertices() * 16 < thresh:
                        deg = F.broadcast(deg)
                    # bench-only instrumentation; byte-gated so instrumented
                    # runs at 10^9 vertices degrade to a shuffled join
                    # instead of an unconditional |V|-row broadcast
                    counts_in = state.join(deg, "vid", "left").withColumn(
                        "deg", F.coalesce(F.col("deg"), F.lit(0))
                    )
                lane_arr, sentinels = _unpack_lane_counts(
                    _lane_accounting(
                        counts_in, nsrc, with_deg=track_teps,
                        full_masks=full_masks if bottom_up else None,
                    ).collect(),
                    nsrc,
                )
                frontier_rows = sentinels.get(-1, 0)
                traversed += sentinels.get(-2, 0)
                closed_rows = sentinels.get(-3, 0)
                state_rows = sentinels.get(-4, 0)
                new_total = int(lane_arr.sum())
                per_level_new.append(new_total)
                if new_total:
                    r += lane_arr
                    s += lane_arr * level
                    if level:
                        h += lane_arr / level
                        ecc = np.where(lane_arr > 0, level, ecc)
                if emit_distances and new_total:
                    # distributed per-level delta append — never through the
                    # driver (n×512 distances at scale is terabytes)
                    (
                        _visit_lanes(state, nsrc)
                        .withColumn("dist", F.lit(level).cast("int"))
                        .write.mode("overwrite")
                        .parquet(os.path.join(distances_path, f"level={level}"))
                    )
            if prev_state is not None:
                try:
                    prev_state.unpersist()
                except Exception:
                    pass  # localCheckpoint blocks are released by the ContextCleaner
                prev_state = None

            if new_total == 0 or (max_levels is not None and level >= max_levels):
                break

            if (
                checkpoint_mgr is not None
                and level
                and level % snapshot_every == 0
                and level != resumed_level
            ):
                # durable snapshot: resumable mid-traversal with lineage+metrics
                metrics = {
                    "level": level,
                    "r": r.tolist(),
                    "s": s.tolist(),
                    "h": h.tolist(),
                    "ecc": ecc.tolist(),
                    "traversed": traversed,
                    "per_level_new": per_level_new,
                }
                if emit_distances:
                    # manifest records the distance-delta location, not the data
                    metrics["distances_path"] = distances_path
                reloaded = checkpoint_mgr.write_state(state, level, metrics)
                state.unpersist()
                state = reloaded.persist(StorageLevel.MEMORY_AND_DISK)

            # -- K3 direction switch ([MSBFS15] §4.3, Beamer bottom-up): on
            # late dense levels most destinations are already fully seen
            # across all lanes, so their messages would be aggregated and
            # then masked to zero.  Strategy, gated on the MEASURED
            # closed-vertex fraction (lane=-3 sentinel — free, same state
            # scan), decided BEFORE the expand so the expansion itself can
            # shrink:
            #   1. open-side semi-join — when the state covers all |V|
            #      vertices (late levels; lane=-4 sentinel) and the OPEN set
            #      is broadcastable, semi-join the EDGE side on open
            #      destinations: closed-dst edges are never enumerated at
            #      all, and the map-side filter preserves the edge cache's
            #      src-partitioning.  The strongest shrink — expansion cost
            #      is O(edges into open vertices), not O(frontier edges).
            #   2. closed-side anti-join on the edge side — same map-side
            #      shrink when instead the CLOSED set is broadcastable
            #      (anti keeps never-seen vertices' edges, so state coverage
            #      doesn't matter).
            #   3. closed-set BITMAP side-channel — the mid-range regime
            #      where neither the open nor the closed set clears the
            #      row-broadcast threshold: the closed set packs into a
            #      64-vertices-per-row (idx, limb) bitmap table (1 bit vs
            #      ~24 bytes per closed vertex — 10^9 vertices = 125 MB of
            #      limbs, within spark.linkgraph.msbfs.bitmapMaxBytes,
            #      default 128m) that broadcast-joins onto the messages on
            #      dst>>6; a codegen'd bit-test drops closed-dst messages
            #      map-side BEFORE the dst shuffle — the aggregation
            #      exchange shrinks by the closed fraction with no
            #      closed-set shuffle at all and zero Python in the path.
            #   4. fallback message anti-join after the expand — only when
            #      the bitmap is disabled or max_vid exceeds the bitmap
            #      budget (keys on dst, the downstream aggregation key, so
            #      the shuffle exchange is reused); saves shuffle +
            #      aggregation work but pays a closed-set shuffle per level.
            edges_open = None
            closed_filter = None
            msg_bitmap = None
            strategy = "push"
            if bottom_up and n_vertices and closed_rows:
                if closed_rows / float(n_vertices) >= bottom_up_threshold:
                    closed_pred = " and ".join(
                        f"s{i} = {m}L"
                        for i, m in enumerate(full_masks[: (nsrc + 63) // 64])
                    )
                    thresh = broadcast_threshold(spark)
                    open_rows = max(state_rows - closed_rows, 0)
                    if (
                        state_rows == n_vertices
                        and 0 < thresh
                        and open_rows * 24 < thresh
                    ):
                        open_dst = state.where(f"not ({closed_pred})").select(
                            F.col("vid").alias("dst")
                        )
                        edges_open = graph.edges.join(
                            F.broadcast(open_dst), "dst", "left_semi"
                        )
                        strategy = "open_semi"
                    elif 0 < thresh and closed_rows * 24 < thresh:
                        closed_dst = state.where(closed_pred).select(
                            F.col("vid").alias("dst")
                        )
                        edges_open = graph.edges.join(
                            F.broadcast(closed_dst), "dst", "left_anti"
                        )
                        strategy = "closed_anti"
                    else:
                        bitmap_budget = parse_bytes(
                            spark.conf.get(
                                "spark.linkgraph.msbfs.bitmapMaxBytes", "128m"
                            )
                        )
                        max_vid = graph.max_vid()
                        if (
                            bottom_up_bitmap
                            and ((max_vid >> 6) + 1) * 8 <= bitmap_budget
                        ):
                            msg_bitmap = _closed_limb_table(
                                state, closed_pred, max_vid
                            )
                            strategy = "bitmap"
                        else:
                            closed_filter = state.where(closed_pred).select(
                                F.col("vid").alias("dst")
                            )
                            strategy = "msg_anti"
            strategies.append(strategy)

            # -- expand: frontier ⋈ edges, OR-aggregate by dst (ANP).
            # Strategy dispatch (broadcast / salted / shuffle) via graph.expand.
            frontier = state.where(
                " or ".join(f"v{i} != 0" for i in range(nlimbs))
            ).select(F.col("vid").alias("src"), *_V)
            msgs = graph.expand(
                frontier, est_rows=frontier_rows, edges=edges_open
            ).select("dst", *_V)
            if msg_bitmap is not None:
                # broadcast limb table + codegen'd bit test: keep a message
                # iff its dst's closed-bit is CLEAR (absent limb == all open)
                msgs = (
                    msgs.join(
                        F.broadcast(msg_bitmap),
                        F.expr("shiftright(dst, 6)") == F.col("_bm_idx"),
                        "left",
                    )
                    .where(
                        F.expr(
                            "_bm_limb is null or "
                            "((_bm_limb >> cast((dst & 63) as int)) & 1) = 0"
                        )
                    )
                    .drop("_bm_idx", "_bm_limb")
                )
            elif closed_filter is not None:
                msgs = msgs.join(closed_filter, "dst", "left_anti")
            if mode == "kernel":
                buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
                agg = _kernel_or_agg(msgs, nlimbs, buckets)
            else:
                agg = msgs.groupBy("dst").agg(
                    *[F.bit_or(f"v{i}").alias(f"a{i}") for i in range(nlimbs)]
                )

            # -- mask & update (codegen'd int64 math; no UDF)
            # `vid`/`dst` are unique names across the two sides — resolve by name
            # (agg descends from state, so df["col"] refs would be self-join-ambiguous)
            joined = state.join(agg, F.col("vid") == F.col("dst"), "full_outer")
            sel = [F.coalesce(F.col("vid"), F.col("dst")).alias("vid")]
            for i in range(nlimbs):
                sel.append(
                    F.expr(f"coalesce(s{i}, 0L) | coalesce(a{i}, 0L)").alias(f"s{i}")
                )
            for i in range(nlimbs):
                sel.append(
                    F.expr(f"coalesce(a{i}, 0L) & ~coalesce(s{i}, 0L)").alias(f"v{i}")
                )
            # localCheckpoint cuts lineage either way (the returned plan is a
            # Scan ExistingRDD immediately).  Default LAZY: the next level's
            # accounting scan is the materializing action, fusing expand +
            # OR-agg + update + accounting into ONE job per level — with AQE
            # off inside iteration_plan (the regime where the round-2 lazy-
            # truncation flakiness lived), truncation is deterministic and
            # the per-level driver-barrier count halves.  eager=True restores
            # the round-2 two-job shape (bit-exact; cross-variant tested).
            new_state = joined.select(*sel).localCheckpoint(eager=eager_checkpoint)
            # old state blocks stay until the new state materializes (next loop)
            prev_state, state = state, new_state
            level += 1
            if verbose:
                print(
                    f"[msbfs] level {level - 1}: new={new_total} frontier_rows={frontier_rows} "
                    f"{time.time() - t_lvl:.2f}s",
                    flush=True,
                )

    wall = time.time() - t0
    distances_df = None
    if emit_distances:
        lane_map = spark.createDataFrame(
            [(i, int(v)) for i, v in enumerate(sources)], "lane int, src long"
        )
        raw = spark.read.option("recursiveFileLookup", "true").parquet(distances_path)
        distances_df = (
            raw.join(F.broadcast(lane_map), "lane")
            .select("src", "vid", F.col("dist").cast("int").alias("dist"))
        )
    state.unpersist()
    return MsBfsResult(
        sources=list(sources),
        levels=level,
        r=r,
        s=s,
        h=h,
        ecc=ecc,
        wall_sec=wall,
        traversed_bit_edges=traversed,
        distances_df=distances_df,
        per_level_new=per_level_new,
        strategies=strategies,
    )


def closeness(graph: LinkGraph, res: MsBfsResult, n: int | None = None) -> DataFrame:
    """LDBC/SIGMOD-contest closeness c(v) = (r-1)^2 / ((n-1)*s), 0 when s=0.

    r counts the source itself; n = |V| of the graph.
    """
    n = n or graph.num_vertices()
    pdf = pd.DataFrame(
        {
            "src": np.asarray(res.sources, dtype=np.int64),
            "r": res.r.astype(np.int64),
            "s": res.s.astype(np.int64),
        }
    )
    pdf["c"] = np.where(
        (pdf["s"] > 0) & (n > 1),
        (pdf["r"] - 1.0) ** 2 / ((n - 1.0) * pdf["s"]),
        0.0,
    )
    return graph.spark.createDataFrame(pdf, schema="src long, r long, s long, c double")


def harmonic(graph: LinkGraph, res: MsBfsResult, n: int | None = None) -> DataFrame:
    """Harmonic centrality h(v) = Σ_{u≠v reachable} 1/d(v,u), plus the
    (n-1)-normalized form — the closeness variant that stays well-defined
    on disconnected graphs (Boldi & Vigna, "Axioms for Centrality").

    Free given an MS-BFS run: the per-level lane counts the accounting
    query already collects fold into Σ new_d/d on the driver (nsrc
    doubles — no extra distributed pass), exactly like closeness's r/s.
    """
    n = n or graph.num_vertices()
    h = res.h if res.h is not None else np.zeros(len(res.sources))
    pdf = pd.DataFrame(
        {
            "src": np.asarray(res.sources, dtype=np.int64),
            "h_raw": np.round(h, 6),
            "hn": np.round(h / max(n - 1, 1), 6),
        }
    )
    return graph.spark.createDataFrame(pdf, schema="src long, h_raw double, hn double")


def eccentricity(graph: LinkGraph, res: MsBfsResult) -> DataFrame:
    """Per-source eccentricity over the reachable set: (src, ecc, r).

    ecc(s) = max finite d(s,·) — free from the same lane accounting as
    closeness/harmonic (the last level at which a lane gained vertices).
    max(ecc) over a full-coverage batch is the exact graph diameter;
    min(ecc) the radius.  When the run stops at max_levels the value is
    the truncated eccentricity (a lower bound), same caveat as the
    distance oracles.
    """
    e = res.ecc if res.ecc is not None else np.zeros(len(res.sources))
    pdf = pd.DataFrame(
        {
            "src": np.asarray(res.sources, dtype=np.int64),
            "ecc": np.asarray(e, dtype=np.int64),
            "r": res.r.astype(np.int64),
        }
    )
    return graph.spark.createDataFrame(pdf, schema="src long, ecc long, r long")


def neighborhood_function(graph: LinkGraph, res: MsBfsResult) -> DataFrame:
    """ANF over the source sample: (h, nf) where nf = |{(s,v): d(s,v) ≤ h}|.

    Pure post-processing of the per-level accounting MS-BFS already
    collects (`per_level_new` — the h-th entry is the number of newly
    reached (source, vertex) pairs at distance h), so the neighborhood
    function and the effective diameter cost zero extra distributed work
    on top of a traversal.  [ANF: Palmer/Gibbons/Faloutsos KDD'02 — the
    exact per-sample form; their probabilistic counters correspond to our
    A8 sketches when |V| bits per lane is too much state.]
    """
    rows = []
    cum = 0
    for h, c in enumerate(res.per_level_new):
        if c == 0:
            continue
        cum += int(c)
        rows.append((h, cum))
    return graph.spark.createDataFrame(rows, "h int, nf long")


def effective_diameter(res: MsBfsResult, q: float = 0.9) -> float:
    """Smallest h (linearly interpolated) with N(h) ≥ q·N(max) over the
    source sample — the standard effective-diameter estimator."""
    counts = [int(c) for c in res.per_level_new if c > 0]
    if not counts:
        return 0.0
    cum = np.cumsum(counts)
    target = q * cum[-1]
    h = int(np.searchsorted(cum, target))
    if h == 0:
        return 0.0
    prev = cum[h - 1]
    return float(h - 1 + (target - prev) / (cum[h] - prev))


def batched_closeness(
    graph: LinkGraph,
    sources: list[int] | None = None,
    batch_width: int = 512,
    mode: str = "relational",
    track_teps: bool = False,
    max_levels: int | None = None,
) -> tuple[DataFrame, list[MsBfsResult]]:
    """K4 source-batch scheduler: degree-descending seed order, chunked into
    ≤512-lane batches (hubs share frontiers → better bit utilization)."""
    if sources is None:
        sources = graph.top_degree_vids(graph.num_vertices())
    results = []
    frames = []
    n = graph.num_vertices()
    for i in range(0, len(sources), batch_width):
        batch = sources[i : i + batch_width]
        res = msbfs(
            graph, batch, mode=mode, track_teps=track_teps, max_levels=max_levels
        )
        results.append(res)
        frames.append(closeness(graph, res, n=n))
    out = frames[0]
    for f in frames[1:]:
        out = out.union(f)
    return out, results
