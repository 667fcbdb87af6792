"""The benchmark's workloads: seeded inputs, set-up, warm-up, one measured
pass, and the oracle checks of every output.

Every call into linkgraph goes through its module attribute at call time
(``msbfs_mod.msbfs(...)``) so the tracer's wrappers, when installed, see it.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracles
from linkgraph import checkpoint as checkpoint_mod
from linkgraph import graph as graph_mod
from linkgraph import tableio
from linkgraph.algos import betweenness as betweenness_mod
from linkgraph.algos import components as components_mod
from linkgraph.algos import kcore as kcore_mod
from linkgraph.algos import louvain as louvain_mod
from linkgraph.algos import msbfs as msbfs_mod
from linkgraph.algos import pagerank as pagerank_mod
from linkgraph.sources import derive


@dataclass
class Op:
    name: str
    seconds: float
    value: object = None
    error: str | None = None


class Runner:
    """Runs operations one at a time (a closed loop with one client),
    counting attempts and failures instead of aborting on either."""

    def __init__(self, tracer=None):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, name: str, fn) -> Op:
        self.attempted += 1
        traced = self.tracer is not None and self.tracer.installed
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op:{name}") if traced else nullcontext():
                value = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            return self._fail(Op(name, time.perf_counter() - t0), f"{name}: {exc!r}")
        return Op(name, time.perf_counter() - t0, value)

    def check(self, op: Op, verify) -> None:
        """Run `verify(op.value)` (returns None or a mismatch message) on a
        successful op; a mismatch or a raising check fails the op."""
        if op.error is not None:
            return
        try:
            problem = verify(op.value)
        except Exception as exc:
            traceback.print_exc(file=sys.stderr)
            problem = f"check raised {exc!r}"
        if problem:
            self._fail(op, f"{op.name}: {problem}")

    def _fail(self, op: Op, message: str) -> Op:
        self.failed += 1
        op.error = message
        self.errors.append(message)
        print(f"[perfbench] FAILED {message}", file=sys.stderr, flush=True)
        return op


def _write_parquet(df: dict, path: str, schema: pa.Schema | None = None) -> None:
    pq.write_table(pa.table(df, schema=schema), path)


def _rows(df, key: str, val: str) -> dict:
    return {r[key]: r[val] for r in df.collect()}


# ======================================================================
class Kernels:
    """Co-purchase graph (512 parts, 4 000 orders of 1-7 parts: the sf0.01
    graph's density at a quarter of its vertices) built once per set-up;
    the pass runs the five non-MS-BFS iteration kernels a user would query.
    These kernels cost per round, not per edge, on a 4-core host, so the round
    budgets are what size a pass."""

    name = "kernels"
    ORACLES = ("numpy PageRank, networkx components / k-core / Brandes, and a numpy "
               "replica of louvain's documented rounds")
    N_PARTS, N_ORDERS = 512, 4000
    PAGERANK_ITERS, KCORE_K, LOUVAIN_ROUNDS, N_ROOTS = 5, 75, 3, 8

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.path = os.path.join(work, "lineitem.parquet")
        self.g = self.gs = None

    def make_inputs(self) -> None:
        rng = np.random.default_rng(self.seed)
        per_order = rng.integers(1, 8, self.N_ORDERS)
        ok = np.repeat(np.arange(self.N_ORDERS, dtype=np.int64), per_order)
        pk = rng.integers(0, self.N_PARTS, ok.size).astype(np.int64)
        self.lineitem = (ok, pk)
        _write_parquet({"l_orderkey": ok, "l_partkey": pk}, self.path)

    def prepare(self, spark, run: Runner) -> None:
        def build():
            g = graph_mod.LinkGraph(derive.copurchase_edges(tableio.read_table(spark, self.path)))
            g.num_vertices(), g.num_edges()
            # co-purchase edges are symmetric by construction; louvain needs
            # the declaration, so it gets the cached store re-wrapped
            return g, graph_mod.LinkGraph(g.edges, symmetric=True, materialize=False)

        self.build_op = run.op("build", build)
        if self.build_op.error:
            raise RuntimeError(self.build_op.error)
        self.g, self.gs = self.build_op.value

    def release(self) -> None:
        for g in (self.gs, self.g):
            if g is not None:
                g.unpersist()
        self.g = self.gs = None

    def compute_oracle(self, run: Runner) -> None:
        src, dst = oracles.copurchase_edges(*self.lineitem)
        self.src, self.dst = src, dst
        self.vids = np.unique(src)
        rng = np.random.default_rng(self.seed + 1)
        self.roots = sorted(int(v) for v in rng.choice(self.vids, self.N_ROOTS, replace=False))
        nxg = oracles.nx_graph(src, dst)
        self.ref = {
            "pagerank": oracles.pagerank(self.vids, src, dst, self.PAGERANK_ITERS),
            "components": oracles.min_label_components(nxg),
            "kcore": oracles.k_core_degrees(nxg, self.KCORE_K),
            "louvain": oracles.louvain_local_move(self.vids, src, dst, self.LOUVAIN_ROUNDS),
            "betweenness": oracles.brandes(nxg, self.roots),
        }

    def check_graph(self, run: Runner) -> None:
        want = (len(self.vids), len(self.src))
        run.check(self.build_op, lambda g: None if (g[0].num_vertices(), g[0].num_edges()) == want
                  else f"graph |V|,|E| != oracle {want}")

    def size(self) -> dict:
        return {"V": int(len(self.vids)), "E": int(len(self.src))}

    def report_rows(self, passes: list[dict]) -> list:
        return [(f"{metric}_s", "s", [p["ops"][op].seconds for p in passes])
                for op, metric in (("pagerank", "pagerank"), ("components", "cc"),
                                   ("kcore", "kcore"), ("louvain", "louvain"),
                                   ("betweenness", "betweenness"))]

    def warmup(self, run: Runner) -> None:
        """One round of the kernels whose first call is much slower than
        the next (pagerank, louvain, betweenness), so the JIT compiles their
        per-round plans at a fraction of a pass's cost."""
        g, gs = self.g, self.gs
        run.op("warmup", lambda: [
            pagerank_mod.pagerank(g, tol=0.0, max_iter=1).count(),
            louvain_mod.louvain_local_move(gs, rounds=1).count(),
            betweenness_mod.betweenness(g, self.roots, max_levels=1).count(),
        ])

    def run_pass(self, run: Runner) -> dict:
        g, gs, ref = self.g, self.gs, self.ref
        t0 = time.perf_counter()
        ops = [
            run.op("pagerank", lambda: _rows(
                pagerank_mod.pagerank(g, tol=0.0, max_iter=self.PAGERANK_ITERS), "vid", "pr")),
            run.op("components", lambda: _rows(
                components_mod.connected_components(g), "vid", "comp")),
            run.op("kcore", lambda: _rows(kcore_mod.k_core(g, self.KCORE_K), "vid", "core_deg")),
            run.op("louvain", lambda: _rows(
                louvain_mod.louvain_local_move(gs, rounds=self.LOUVAIN_ROUNDS), "vid", "label")),
            run.op("betweenness", lambda: _rows(
                betweenness_mod.betweenness(g, self.roots), "vid", "bc")),
        ]
        wall = time.perf_counter() - t0

        def pagerank_ok(got):
            if set(got) != set(self.vids.tolist()):
                return "vertex set differs from the oracle's"
            err = np.abs(np.array([got[int(v)] for v in self.vids]) - ref["pagerank"]).max()
            return f"max |pr - ref| = {err:.3g}" if err > 1e-9 else None

        def louvain_ok(got):
            arr = np.array([got.get(int(v), -1) for v in self.vids])
            diff = int((arr != ref["louvain"]).sum())
            return f"{diff} labels differ from the replica" if diff else None

        def betweenness_ok(got):
            want = ref["betweenness"]
            if not set(got) <= set(want):
                return "scores for vertices outside the graph"
            # linkgraph rounds bc to 6 decimals
            err = max(abs(got.get(v, 0.0) - b) - 1e-9 * abs(b) for v, b in want.items())
            return f"max |bc - ref| = {err:.3g}" if err > 5e-7 else None

        checks = {
            "pagerank": pagerank_ok,
            "components": lambda got: None if got == ref["components"] else "labels differ",
            "kcore": lambda got: None if got == ref["kcore"] else "members or degrees differ",
            "louvain": louvain_ok,
            "betweenness": betweenness_ok,
        }
        for o in ops:
            run.check(o, checks[o.name])
        return {"wall": wall, "ops": {o.name: o for o in ops}}


# ======================================================================
class MsbfsZipf:
    """Write side plus traversal over seeded Zipf(1.2, 200 tools)
    transcripts (written during set-up).  The graph is built once per run,
    as the warm-up: shared-tool derivation, string-vertex relabel,
    edge-store write and cache fill.  That build is the JVM's first and is
    timed as such (build_s).  The pass then times one 512-lane MS-BFS batch that
    snapshots every level, a resume=True run from its newest snapshot (a
    crash after the last snapshot), and closeness for the 512 sources.
    600 conversations keep the BFS depth at 3 for every seed tried (1 000
    do not), so the per-level cost does not jump between seeds."""

    name = "msbfs_zipf"
    ORACLES = "DuckDB SQL of the derivation and relabel, numpy bit-parallel MS-BFS"
    N_CONVS, N_TOOLS, ZIPF_S, HUB_CAP, LANES = 600, 200, 1.2, 500, 512
    # The resumed run must not re-snapshot the level it resumed from: at
    # this commit msbfs overwrites the snapshot it is still reading when
    # snapshot_every divides that level (FILE_NOT_EXIST).  The resume
    # therefore continues without further snapshots, as the repository's
    # own resume test does.
    RESUME_SNAPSHOT_EVERY = 100

    def __init__(self, seed: int, work: str):
        self.seed, self.work = seed, work
        self.path = os.path.join(work, "transcripts.parquet")
        self.n_pass = 0
        self.g = self.build_op = None

    def make_inputs(self) -> None:
        from linkgraph.schemas import TRANSCRIPTS

        rng = np.random.default_rng(self.seed)
        turns = rng.integers(3, 41, self.N_CONVS)
        conv = np.repeat(np.arange(self.N_CONVS), turns)
        turn_idx = np.concatenate([np.arange(t) for t in turns]).astype(np.int32)
        probs = np.arange(1, self.N_TOOLS + 1, dtype=np.float64) ** -self.ZIPF_S
        draw = rng.choice(self.N_TOOLS, size=conv.size, p=probs / probs.sum())
        is_tool = turn_idx % 3 == 2
        conv_id = np.char.add("c", np.char.zfill(conv.astype(str), 8))
        arrow_type = {"turn_idx": pa.int32(), "ts": pa.timestamp("us")}
        schema = pa.schema([pa.field(f.name, arrow_type.get(f.name, pa.string()), f.nullable)
                            for f in TRANSCRIPTS.fields])
        _write_parquet({
            "conv_id": conv_id,
            "turn_idx": turn_idx,
            "role": np.array(["user", "assistant", "tool"])[turn_idx % 3],
            "text": np.char.add("turn ", turn_idx.astype(str)),
            "tool": np.where(is_tool, np.char.add("tool_", draw.astype(str)), None),
            "ts": np.datetime64("2026-01-01T00:00:00", "us")
                  + (conv * 60 + turn_idx).astype("timedelta64[s]"),
        }, self.path, schema)

    def prepare(self, spark, run: Runner) -> None:
        self.spark = spark

    def release(self) -> None:
        if self.g is not None:
            self.g.unpersist()
        self.g = None

    def compute_oracle(self, run: Runner) -> None:
        tmp = os.path.join(self.work, "duckdb")
        os.makedirs(tmp, exist_ok=True)
        self.n, self.src, self.dst = oracles.shared_tool_edges(self.path, self.HUB_CAP, tmp)
        self.edge_keys, self.edge_sha = oracles.edge_digest(self.src, self.dst)
        rng = np.random.default_rng(self.seed + 1)
        self.sources = [int(v) for v in rng.choice(self.n, self.LANES, replace=False)]
        per_level = oracles.msbfs_levels(self.n, self.src, self.dst, self.sources)
        self.r, self.s = oracles.reach_and_distance_sums(per_level)
        self.closeness = oracles.closeness(self.r, self.s, self.n)

    def size(self) -> dict:
        return {"V": int(self.n), "E": int(len(self.src)), "edge_sha1": self.edge_sha}

    def report_rows(self, passes: list[dict]) -> list:
        secs = lambda op: [p["ops"][op].seconds for p in passes]  # noqa: E731
        rows = [("batch_p50_s", "s", secs("msbfs"))]
        done = [p["ops"]["msbfs"] for p in passes if p["ops"]["msbfs"].error is None]
        if done:
            bits = sum(o.value.traversed_bit_edges for o in done)
            rows.append(("gteps", "Gbit-e/s", [bits / sum(o.seconds for o in done) / 1e9]))
        if self.build_op.error is None:
            rows.append(("build_s", "s", [self.build_op.seconds]))
            rows.append(("edges_per_s", "1/s", [len(self.src) / self.build_op.seconds]))
        return rows + [("resume_s", "s", secs("msbfs_resume")),
                       ("closeness_s", "s", secs("closeness"))]

    def _build(self):
        t = tableio.read_table(self.spark, self.path)
        pairs = derive.shared_key_conv_edges(t, key="tool", hub_cap=self.HUB_CAP)
        g, _ = graph_mod.LinkGraph.from_string_vertices(
            pairs, "src_conv", "dst_conv", pairs_canonical=True)
        g.num_vertices(), g.num_edges()
        return g

    def warmup(self, run: Runner) -> None:
        """The graph build, then the level-0 lane accounting of a batch:
        Python workers up, Arrow kernel loaded."""
        self.build_op = run.op("build", self._build)
        self.g = self.build_op.value
        run.op("warmup", lambda: msbfs_mod.msbfs(self.g, self.sources, max_levels=0,
                                                  track_teps=True))

    def check_graph(self, run: Runner) -> None:
        def same_edges(g):
            if (g.num_vertices(), g.num_edges()) != (self.n, len(self.src)):
                return f"|V|,|E| {(g.num_vertices(), g.num_edges())} != {(self.n, len(self.src))}"
            pdf = g.edges.select("src", "dst").toPandas()
            keys, _ = oracles.edge_digest(pdf["src"].to_numpy(), pdf["dst"].to_numpy())
            return None if np.array_equal(keys, self.edge_keys) else "edge set differs from DuckDB"

        run.check(self.build_op, same_edges)

    def run_pass(self, run: Runner) -> dict:
        self.n_pass += 1
        g = self.g
        mgr = checkpoint_mod.CheckpointManager(
            self.spark, os.path.join(self.work, f"checkpoint-{self.n_pass}"))
        t0 = time.perf_counter()
        batch = run.op("msbfs", lambda: msbfs_mod.msbfs(
            g, self.sources, checkpoint_mgr=mgr, snapshot_every=1, track_teps=True))
        resumed = run.op("msbfs_resume", lambda: msbfs_mod.msbfs(
            g, self.sources, checkpoint_mgr=mgr,
            snapshot_every=self.RESUME_SNAPSHOT_EVERY, resume=True, track_teps=True))
        close = run.op("closeness", lambda: _rows(msbfs_mod.closeness(g, batch.value), "src", "c"))
        wall = time.perf_counter() - t0
        snaps = mgr.snapshots()

        def lanes_ok(res):
            bad = int((res.r != self.r).sum() + (res.s != self.s).sum())
            return f"{bad} lane accumulators differ from the numpy BFS" if bad else None

        def snapshots_ok(res):
            got = [m["iteration"] for m in snaps if m["rows"] > 0]
            want = list(range(1, res.levels))
            return None if got == want else f"snapshots at levels {got}, expected {want}"

        def closeness_ok(got):
            want = dict(zip(self.sources, self.closeness))
            if set(got) != set(want):
                return "closeness sources differ"
            err = max(abs(got[v] - c) for v, c in want.items())
            return f"max |c - ref| = {err:.3g}" if err > 1e-12 else None

        run.check(batch, lambda res: lanes_ok(res) or snapshots_ok(res))
        run.check(resumed, lanes_ok)
        run.check(close, closeness_ok)
        shutil.rmtree(mgr.root, ignore_errors=True)
        return {"wall": wall, "ops": {o.name: o for o in (batch, resumed, close)},
                "snapshots": snaps}


WORKLOADS = {w.name: w for w in (MsbfsZipf, Kernels)}
