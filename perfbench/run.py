"""linkgraph benchmark: one seeded, oracle-checked workload per invocation.

    python3 perfbench/run.py --workload kernels --seed 1 --seconds 20 --trace 0

Load is a closed loop from this one process: one client, one operation at
a time, on local[<cores available>].  A run

1. sets up three times (SparkSession (re)start, seeded input generation,
   and the kernels graph build);
2. computes the oracles for the seed (not timed);
3. warms up once (the JVM compiles the per-round plans; msbfs_zipf builds
   its graph here).  setup_s is the set-ups' median plus this warm-up;
4. runs measured passes while another pass still fits in --seconds (at
   least one), checking every output against its oracle.  A failed or
   mismatching operation is counted and the pass goes on.

--trace 0 reports the end-to-end metrics.  --trace 1 alternates untraced
and traced passes, times every call into the linkgraph modules listed in
tracing.TRACED, attributes Spark event-log jobs to those calls through job
groups, and reports the per-layer metrics plus the tracing overhead.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}; the lines before it are the human-readable report.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import hashlib
import json
import os
import platform
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def prepare_environment(work: str) -> None:
    """Keep every file the run writes inside the checkout, and put the repo
    root on the path of Spark's Python workers as well as this process's:
    the Arrow UDF stages import linkgraph in worker processes, which only
    see PYTHONPATH, not this process's sys.path."""
    for sub in ("tmp", "local", "store", "eventlog"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.linkgraph.store.root": os.path.join(work, "store"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # prepended to linkgraph's own JVM options, not replacing them;
        # JVM warnings go to stderr so stdout stays the report channel
        "spark.driver.defaultJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            "-Xlog:disable -Xlog:all=warning:stderr"
        ),
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_jvm(spark) -> None:
    """Stop Spark and the JVM gateway process it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        proc.wait(timeout=120)
    SparkContext._gateway = SparkContext._jvm = None


# ------------------------------------------------------------------ stats
def summary(values: list[float]) -> dict:
    """n, median, quartiles, and the highest percentile with at least ten
    samples beyond it (absent below eleven samples)."""
    v = sorted(values)
    q = statistics.quantiles(v, n=4) if len(v) > 1 else [v[0], v[0], v[0]]
    out = {"n": len(v), "median": statistics.median(v), "q1": q[0], "q3": q[2]}
    if len(v) >= 11:
        i = len(v) - 11
        out["tail"] = (100 * (i + 1) // len(v), v[i])
    return out


def fmt_row(name: str, unit: str, values: list[float]) -> str:
    s = summary(values)
    tail = (f"  p{s['tail'][0]}={s['tail'][1]:.6g}" if "tail" in s
            else "  tail=n/a (needs n>=11)")
    return (f"  {name:<22} {unit:<7} n={s['n']:<3} median={s['median']:<12.6g} "
            f"q1={s['q1']:<12.6g} q3={s['q3']:<12.6g}{tail}")


# ------------------------------------------------------------ fingerprint
def fingerprint(spark, wl, args) -> dict:
    opts = spark.conf.get("spark.driver.extraJavaOptions", "")
    gc = re.search(r"ParallelGCThreads=(\d+)", opts)
    commit = "n/a (not a git checkout)"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        got = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
        commit = got.stdout.strip() or commit
    digest = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(ROOT, "linkgraph", "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            digest.update(f.read())
    jvm = spark.sparkContext._jvm
    return {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "master": spark.sparkContext.master,
        "heap": spark.conf.get("spark.driver.memory", "?"),
        "gc_threads": gc.group(1) if gc else "JVM default",
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
        "linkgraph_sha1": digest.hexdigest()[:16],
        **wl.size(),
    }


# ---------------------------------------------------------------- metrics
def end_to_end_rows(wl, setup_s: float, passes: list[dict], run) -> list:
    """(metric, unit, values) rows of the human report for one workload."""
    return ([("setup_s", "s", [setup_s]), ("wall_s", "s", [p["wall"] for p in passes])]
            + wl.report_rows(passes)
            + [("fail_ratio", "ratio", [run.failed / run.attempted])])


KERNEL_OPS = ("pagerank", "components", "kcore", "louvain", "betweenness")
ALGO_OPS = KERNEL_OPS + ("msbfs", "msbfs_resume", "closeness")


def per_layer(att, traced: list[dict], untraced: list[dict]) -> dict:
    """Per-layer metrics, averaged over the traced passes.  A layer the
    workload never calls reads 0."""
    from tracing import busy_time

    spans = att.spans
    passes = {s.pass_id for s in spans if s.pass_id.startswith("traced")}
    npass = max(len(passes), 1)
    ops = [s for s in spans if s.name.startswith("op:") and s.pass_id in passes]

    def op_spans(*names):
        return [s for s in ops if s.name[3:] in names]

    def jobs_of(spans):
        return [j for s in spans for j in att.subtree_jobs(s.id)]

    def dur(spans):
        return sum(s.end - s.start for s in spans)

    m: dict[str, float] = {}
    for key in KERNEL_OPS + ("algos",):
        sp = op_spans(*(ALGO_OPS if key == "algos" else (key,)))
        js = jobs_of(sp)
        m[f"{key}.call_s"] = dur(sp) / npass
        m[f"{key}.jobs"] = len(js) / npass
        m[f"{key}.stages"] = sum(j.stages for j in js) / npass
        m[f"{key}.tasks"] = sum(j.tasks for j in js) / npass
        m[f"{key}.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in js) / npass
    m["algos.s_per_job"] = m["algos.call_s"] / m["algos.jobs"] if m["algos.jobs"] else 0.0

    bfs = op_spans("msbfs")
    done = [p for p in traced if p["ops"].get("msbfs") and p["ops"]["msbfs"].error is None]
    levels = sum(p["ops"]["msbfs"].value.levels for p in done)
    m["msbfs.call_s"] = dur(bfs) / npass
    m["msbfs.levels"] = levels / npass
    m["msbfs.level_s"] = dur(bfs) / levels if levels else 0.0
    m["msbfs.jobs_per_level"] = len(jobs_of(bfs)) / levels if levels else 0.0
    m["msbfs.pull_levels"] = sum(
        sum(st != "push" for st in p["ops"]["msbfs"].value.strategies) for p in done) / npass
    bits = sum(p["ops"]["msbfs"].value.traversed_bit_edges for p in done)
    new = sum(sum(p["ops"]["msbfs"].value.per_level_new) for p in done)
    m["msbfs.useful_ratio"] = new / bits if bits else 0.0
    m["msbfs.resume_s"] = dur(op_spans("msbfs_resume")) / npass
    m["closeness.call_s"] = dur(op_spans("closeness")) / npass

    # the graph the passes use: built in the last set-up (kernels) or
    # right after set-up (msbfs_zipf)
    build = [s for s in spans if s.name == "op:build"][-1:]
    gj = jobs_of(build)
    store = [j for j in gj if j.output_bytes]  # the edge-store write
    m["graph.build_s"] = dur(build)
    m["graph.store_s"] = busy_time(store)
    m["graph.cache_s"] = busy_time([j for j in gj if not j.output_bytes])
    m["graph.store_bytes"] = sum(j.output_bytes for j in store)
    m["graph.shuffle_write_bytes"] = sum(j.shuffle_write_bytes for j in gj)
    m["graph.jobs"] = len(gj)

    snaps = traced[-1].get("snapshots", []) if traced else []
    m["checkpoint.snapshots"] = len(snaps)
    m["checkpoint.bytes"] = sum(part["bytes"] for s in snaps for part in s["lineage"])
    m["checkpoint.rows"] = sum(s["rows"] for s in snaps)

    starts = [s.end - s.start for s in spans if s.name == "session.get_spark"]
    m["session.start_s"] = statistics.median(starts) if starts else 0.0
    pj = jobs_of(ops)
    m["spark.sched_delay_s"] = sum(j.sched_delay_s for j in pj) / npass
    m["spark.task_run_s"] = sum(j.task_run_s for j in pj) / npass
    m["spark.gc_s"] = sum(j.gc_s for j in pj) / npass
    m["spark.spill_bytes"] = sum(j.spill_bytes for j in pj) / npass
    m["spark.gap_s"] = sum(att.uncovered_time(s) for s in ops) / npass
    m["trace.overhead_s"] = (statistics.median(p["wall"] for p in traced)
                             - statistics.median(p["wall"] for p in untraced))
    return m


def self_time_table(att) -> list[str]:
    passes = {s.pass_id for s in att.spans if s.pass_id.startswith("traced")}
    agg: dict[str, list[float]] = {}
    for s in att.spans:
        if s.pass_id in passes:
            row = agg.setdefault(s.module, [0.0, 0, 0])
            row[0] += att.self_time(s)
            row[1] += 1
            row[2] += len(att.jobs_of.get(s.id, []))
    n = max(len(passes), 1)
    lines = [f"  {'module':<12} {'self_s':>9} {'calls':>7} {'jobs':>6}   (per traced pass)"]
    for mod, (t, calls, njobs) in sorted(agg.items(), key=lambda kv: -kv[1][0]):
        lines.append(f"  {mod:<12} {t / n:>9.3f} {calls / n:>7.0f} {njobs / n:>6.0f}")
    return lines


# ------------------------------------------------------------------- main
def main() -> int:
    args = parse_args()
    sys.path[:0] = [ROOT, HERE]
    try:
        import linkgraph  # noqa: F401  the package this benchmark measures
    except ImportError as exc:
        print(f"[perfbench] cannot import linkgraph from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; have {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    prepare_environment(work)
    try:
        return measure(args, WORKLOADS[args.workload], work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only when no other run is using it


def measure(args, Workload, work: str) -> int:
    from linkgraph import session as session_mod
    from tracing import Attribution, Tracer, read_event_logs
    from workloads import Runner

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        contract = json.load(f)
    tracer = Tracer() if args.trace else None
    run = Runner(tracer)
    wl = Workload(args.seed, work)
    conf = spark_conf(work, bool(args.trace))
    master = f"local[{len(os.sched_getaffinity(0))}]"
    if tracer:
        tracer.install()

    spark, setup = None, []
    for rep in range(1, SETUP_REPS + 1):
        if spark is not None:
            wl.release()
            spark.stop()
        if tracer:
            tracer.pass_id = f"setup{rep}"
        t0 = time.perf_counter()
        spark = session_mod.get_spark(master=master, app_name="perfbench", extra_conf=conf)
        wl.make_inputs()
        wl.prepare(spark, run)
        setup.append(time.perf_counter() - t0)

    wl.compute_oracle(run)
    if tracer:
        tracer.pass_id = "warmup"
    t0 = time.perf_counter()
    wl.warmup(run)
    warmup_s = time.perf_counter() - t0
    wl.check_graph(run)
    # the repeated set-up's median plus the one warm-up (the JVM's first
    # calls cannot be repeated within a run)
    setup_s = statistics.median(setup) + warmup_s

    traced, untraced = [], []
    t_start = time.perf_counter()
    while True:  # whole passes (an untraced/traced pair when tracing)
        if tracer:
            tracer.uninstall()
        untraced.append(wl.run_pass(run))
        if tracer:
            tracer.install()
            tracer.pass_id = f"traced{len(untraced)}"
            traced.append(wl.run_pass(run))
        elapsed = time.perf_counter() - t_start
        if elapsed + elapsed / len(untraced) > args.seconds:
            break

    if tracer:
        tracer.uninstall()
    fp = fingerprint(spark, wl, args)
    wl.release()
    stop_jvm(spark)

    print(f"[perfbench] fingerprint {json.dumps(fp, sort_keys=True)}")
    print(f"[perfbench] workload {wl.name}: set-ups {', '.join(f'{t:.3f}' for t in setup)} s, "
          f"warm-up {warmup_s:.3f} s; {len(untraced)} untraced pass(es)"
          + (f", {len(traced)} traced" if tracer else ""))
    for name, unit, values in end_to_end_rows(wl, setup_s, untraced, run):
        print(fmt_row(name, unit, values))
    print(f"  checked against: {wl.ORACLES}")
    for err in run.errors:
        print(f"  FAILED {err}")

    if tracer:
        att = Attribution(tracer.spans, read_event_logs(os.path.join(work, "eventlog")))
        layer = per_layer(att, traced, untraced)
        print(f"[perfbench] per-layer metrics, {wl.name} (per traced pass):")
        for key in sorted(layer):
            print(f"  {key:<32} {layer[key]:.6g}")
        print(f"[perfbench] self time by module, {wl.name}:")
        print("\n".join(self_time_table(att)))
        print(f"[perfbench] tracing overhead {layer['trace.overhead_s']:+.3f} s per pass "
              "(traced - untraced wall; the event log is on for both)")
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.write(os.path.join(out_dir, f"spans-{wl.name}-seed{args.seed}.json"),
                     {"fingerprint": fp, "per_layer": layer})
        names = contract["per_layer"]
        values = {m["name"]: layer[m["name"]] for m in names}
    else:
        e2e = {"setup_s": setup_s, "wall_s": statistics.median(p["wall"] for p in untraced)}
        names = contract["end_to_end"]
        values = {m["name"]: e2e[m["name"]] for m in names}
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names},
    }
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
