"""Round policy for the driver-controlled iterative graph kernels.

Every iterative kernel (PageRank, CC, LPA, Louvain, ...) runs the same
skeleton around its own per-round relational step:

* the loop body plans under `iteration_plan` (AQE off, shuffled-hash);
* each new state is cut from its lineage by a localCheckpoint that the
  round's probe aggregate materializes, so the step, the state update
  and the convergence statistic fuse into one Spark job per round;
* the previous round's checkpoint is released as soon as the new one is
  materialized (`DataFrame.unpersist()` does nothing on a
  localCheckpoint — see `release`);
* resumable kernels snapshot every K rounds through CheckpointManager;
* kernels whose state is referenced several times per round round-trip
  it through a parquet scratch store every SEVER_EVERY rounds (`Store`);
* every round logs one DEBUG record on the ``linkgraph`` logger.

`iterate` is that skeleton; the kernels supply only `step` and `probe`.
The byte gate that decides when a ≤|V|-row table is broadcast
(`broadcast_fits`) lives here too, as the one copy of that estimate.
"""

from __future__ import annotations

import logging
import posixpath
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import DataFrame

log = logging.getLogger("linkgraph")

# originStats digits grow ×k per round for a state referenced k times per
# round (localCheckpoint copies the pre-substitution plan's statistics into
# each new leaf); a parquet round-trip every SEVER_EVERY rounds resets them
# to the real file size, capping them at ~3^6 x seed for the k=3 shapes.
SEVER_EVERY = 6

_SIZE_SUFFIX = {
    "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
}


def parse_bytes(size: str | int) -> int:
    """Parse Spark byte-size conf strings ('10485760b', '32MB', '10m', '-1')."""
    if isinstance(size, int):
        return size
    s = str(size).strip().lower()
    for suf in sorted(_SIZE_SUFFIX, key=len, reverse=True):
        if s.endswith(suf):
            return int(float(s[: -len(suf)]) * _SIZE_SUFFIX[suf])
    return int(s)


def broadcast_threshold(spark) -> int:
    """Session autoBroadcastJoinThreshold in bytes (-1 = disabled)."""
    return parse_bytes(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10m"))


def broadcast_fits(spark, est_rows: int, ncols: int) -> bool:
    """The J1 byte gate: True when a table of `est_rows` rows of `ncols`
    long/double columns (~16 bytes of row overhead + 12 per column) is
    estimated under autoBroadcastJoinThreshold.  Past the gate (10^9
    vertices) callers fall back to a shuffle join — an unconditional
    |V|-row broadcast OOMs every executor."""
    thresh = broadcast_threshold(spark)
    return 0 < thresh and est_rows * (16 + 12 * ncols) < thresh


@contextmanager
def iteration_plan(spark):
    """Planning profile for driver-controlled iteration loops (PR/CC/LPA/
    MS-BFS): AQE OFF for the loop body, restored on exit.

    The per-iteration plan is static and repetitive; AQE's value is runtime
    re-planning of unknown shapes, and its cost is an extra driver round of
    stage materialization per query — measured ~1-2s per iteration, which
    dominates wall-time once the compute per iteration drops below a few
    seconds per core (and at sandbox bench scale becomes THE floor that
    caps scaling efficiency).  Skew inside the loop is handled explicitly
    (byte-gated broadcast in LinkGraph.expand, salted hub buckets via
    enable_salting), so the AQE skew-join backstop is not load-bearing
    here.  Derivation / ad-hoc queries keep AQE on (session default).

    Also prefers shuffled-hash over sort-merge joins inside the loop: the
    frontier/state side is a bounded hash map (at most |V| rows), and SHJ
    streams the co-partitioned edge side without the per-iteration sort
    SMJ would insert.

    Constraint propagation is OFF in the loop: Catalyst's
    ``getAllValidConstraints`` substitutes every Project alias into every
    inherited constraint, and for wide multi-lane state Projects (k sketch
    limbs each aliased from an expression over the SAME join output, plus
    a sum column referencing all k of them — the anf/hyperball shape) the
    alias-combination set grows combinatorially in k.  Measured on a
    120-vertex fixture: planning ONE hyperball round at k=16 took 8.7s,
    k=24 OOMed an 8 GiB driver heap inside ExpressionSet.map; with the
    flag off, the full k=64 × 10-round job runs in 28s end to end.  The
    constraints only add redundant inferred IsNotNull/filter predicates on
    hand-shaped plans, so nothing is lost inside the loop; ad-hoc queries
    keep the session default.
    """
    conf = spark.conf
    old_aqe = conf.get("spark.sql.adaptive.enabled")
    old_smj = conf.get("spark.sql.join.preferSortMergeJoin", "true")
    old_cp = conf.get("spark.sql.constraintPropagation.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.join.preferSortMergeJoin", "false")
    conf.set("spark.sql.constraintPropagation.enabled", "false")
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", old_aqe)
        conf.set("spark.sql.join.preferSortMergeJoin", old_smj)
        conf.set("spark.sql.constraintPropagation.enabled", old_cp)


def release(df: DataFrame) -> None:
    """Drop the blocks of a localCheckpointed frame.

    `DataFrame.unpersist()` only clears the CacheManager entry of a
    `persist()`ed frame; a localCheckpoint is a persisted RDD behind a
    `LogicalRDD` leaf, which only an RDD-level unpersist frees (otherwise
    the blocks stay registered until a JVM GC happens to run the
    ContextCleaner).  The SparkContext's unpersistRDD is called directly:
    `RDD.unpersist` does the same but logs a WARN for every locally
    checkpointed RDD, which would be one per round here.  Does nothing
    for any other frame, including projections over a checkpoint."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() == "LogicalRDD":
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(plan.rdd().id(), False)


class Store:
    """Per-call scratch dir for stat-severing parquet round-trips; the
    caller deletes the whole dir with `cleanup()` once nothing reads it."""

    def __init__(self, spark):
        from linkgraph.graph import edge_store_root

        self.spark = spark
        self.root = posixpath.join(
            edge_store_root(spark), f"linkgraph_sever_{uuid.uuid4().hex}"
        )
        self.n = 0

    def sever(self, df: DataFrame) -> DataFrame:
        self.n += 1
        p = posixpath.join(self.root, f"s{self.n}")
        df.write.parquet(p)
        return self.spark.read.parquet(p)

    def cleanup(self):
        try:
            from linkgraph.checkpoint import _HadoopFS

            fs = _HadoopFS(self.spark, self.root)
            if fs.exists(self.root):
                fs.delete(self.root)
        except Exception:
            pass  # session already stopped — temp roots are reaped anyway


@dataclass
class Snapshots:
    """Durable snapshots of a resumable loop: every `every` rounds the
    state's `cols` are written through `mgr` (a CheckpointManager) with
    metrics {"iteration": round, **probe value}."""

    mgr: Any
    every: int
    cols: list[str]

    def resume(self) -> tuple[DataFrame | None, int, dict]:
        """(state, rounds already run, metrics) of the newest committed
        snapshot, or (None, 0, {}) when there is none."""
        snap = self.mgr.latest()
        if snap is None:
            return None, 0, {}
        metrics = snap["metrics"]
        return self.mgr.read_state(snap), int(metrics["iteration"]), metrics


@dataclass
class Run:
    """Outcome of `iterate`: the final state (a checkpoint), the last
    probe value, whether `converged` fired, and the `keep` newest states
    (oldest first)."""

    state: DataFrame
    value: Any
    converged: bool
    kept: list[DataFrame]


def iterate(
    algo: str,
    state: DataFrame,
    step: Callable[[DataFrame, int, Any], DataFrame],
    probe: Callable[[DataFrame], Any] | None = None,
    *,
    rounds: int,
    start: int = 0,
    last: Any = None,
    probe_seed: bool = False,
    converged: Callable[[Any, Any], bool] | None = None,
    eager: bool = False,
    keep: int = 1,
    sever: bool = False,
    snapshots: Snapshots | None = None,
) -> Run:
    """Run rounds start+1 .. `rounds` of an iterative kernel.

    The seed `state` is checkpointed eagerly.  Round r then
      1. builds ``new = step(state, r, last)``;
      2. checkpoints it, lazily or (with `eager`) eagerly;
      3. runs ``value = probe(new)``;
      4. writes a due snapshot and continues from its reloaded state;
      5. releases the states older than the `keep` newest (a loop that
         alternates two half-steps keeps both);
      6. logs one DEBUG record and stops if ``converged(value, last)``.

    `last` is the previous round's probe value.  Before round one it is
    the `last` argument or, with `probe_seed`, the probe's value on the
    seed; a seed for which ``converged(value, None)`` holds runs no round.

    Probe contract: the probe is the action that materializes a lazy
    checkpoint, so it must read every partition — an aggregate or a
    count, never `limit`/`first` without an aggregate in front.  Once it
    returns, the previous round's checkpoint is released, so a lazy
    checkpoint whose partitions the probe skipped would be unreadable.
    `probe` may be omitted only for `eager` loops.

    With `sever`, every SEVER_EVERY-th state is written through a
    per-call parquet Store instead of being checkpointed; a store-backed
    final state is pinned in executor memory before the store is deleted.
    """
    if probe is None and not eager:
        raise ValueError("a lazily checkpointed loop needs a probe")
    store = Store(state.sparkSession) if sever else None
    kept = [state.localCheckpoint(eager=True)]
    done = False
    if probe_seed:
        last = probe(kept[0])
        done = converged is not None and converged(last, None)
    value, severed = last, False
    end = start if done else rounds
    try:
        with iteration_plan(state.sparkSession):
            for r in range(start + 1, end + 1):
                t0 = time.perf_counter()
                new = step(kept[-1], r, last)
                severed = store is not None and r % SEVER_EVERY == 0
                if severed:
                    new = store.sever(new)
                else:
                    new = new.localCheckpoint(eager=eager)
                value = probe(new) if probe is not None else None
                if snapshots is not None and r % snapshots.every == 0:
                    snap = snapshots.mgr.write_state(
                        new.select(*snapshots.cols), r, {"iteration": r, **value}
                    ).localCheckpoint(eager=True)
                    release(new)
                    new = snap
                kept.append(new)
                while len(kept) > keep:
                    release(kept.pop(0))
                wall = time.perf_counter() - t0
                log.debug(
                    "%s round %d: %s (%.3f s)", algo, r, value, wall,
                    extra={"algo": algo, "round": r, "probe": value, "wall_s": wall},
                )
                done = converged is not None and converged(value, last)
                last = value
                if done:
                    break
        if severed:
            kept[-1] = kept[-1].localCheckpoint(eager=True)
    finally:
        if store is not None:
            store.cleanup()
    return Run(kept[-1], value, done, kept)
