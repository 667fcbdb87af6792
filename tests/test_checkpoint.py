"""Checkpoint/resume: mid-traversal resume equals uninterrupted run
bit-for-bit; uncommitted snapshots are invisible; lineage audit trips on
corruption."""

import json
import os

import numpy as np
import pytest

from linkgraph.algos.msbfs import msbfs
from linkgraph.algos.pagerank import pagerank
from linkgraph.checkpoint import CheckpointManager
from linkgraph.fixtures import edges_df, grid_edges
from linkgraph.graph import LinkGraph


@pytest.fixture(scope="module")
def grid(spark):
    return LinkGraph.from_undirected(edges_df(spark, grid_edges()), num_partitions=8)


@pytest.fixture(scope="module")
def grid_full(grid):
    """Uninterrupted 2-source run on the grid, shared by the resume tests."""
    return msbfs(grid, [0, 63], emit_distances=True)


def _assert_same_traversal(resumed, full):
    assert np.array_equal(resumed.r, full.r)
    assert np.array_equal(resumed.s, full.s)
    assert np.array_equal(resumed.h, full.h)  # harmonic sums survive resume
    assert np.array_equal(resumed.ecc, full.ecc)  # eccentricities too
    da = full.distances.sort_values(["src", "vid"]).reset_index(drop=True)
    db = resumed.distances.sort_values(["src", "vid"]).reset_index(drop=True)
    assert da.astype("int64").equals(db.astype("int64"))


def test_msbfs_resume_equals_uninterrupted(spark, grid, grid_full, tmp_path):
    srcs = [0, 63]
    full = grid_full

    root = str(tmp_path / "chk")
    mgr = CheckpointManager(spark, root)
    # interrupted run: stop after level 4 (snapshot written at level 4)
    partial = msbfs(
        grid, srcs, emit_distances=True, checkpoint_mgr=mgr, snapshot_every=4, max_levels=5
    )
    snap = mgr.latest()
    assert snap is not None and snap["metrics"]["level"] == 4
    assert snap["lineage"] and all("rows" in p for p in snap["lineage"])

    resumed = msbfs(
        grid, srcs, emit_distances=True, checkpoint_mgr=mgr, snapshot_every=100, resume=True
    )
    _assert_same_traversal(resumed, full)


def test_msbfs_resume_keeps_snapshotting(spark, grid, grid_full, tmp_path):
    """Resuming with a snapshot_every that divides the resumed level must
    not rewrite the snapshot it is reading, and must keep snapshotting
    the levels after it."""
    srcs = [0, 63]
    mgr = CheckpointManager(spark, str(tmp_path / "chk"))
    msbfs(
        grid, srcs, emit_distances=True, checkpoint_mgr=mgr, snapshot_every=4, max_levels=5
    )
    assert mgr.latest()["metrics"]["level"] == 4

    resumed = msbfs(
        grid, srcs, emit_distances=True, checkpoint_mgr=mgr, snapshot_every=4, resume=True
    )
    _assert_same_traversal(resumed, grid_full)
    assert [m["metrics"]["level"] for m in mgr.snapshots()] == [4, 8, 12]


def test_uncommitted_snapshot_invisible(spark, tmp_path):
    root = str(tmp_path / "chk2")
    mgr = CheckpointManager(spark, root)
    df = spark.range(10).selectExpr("id as vid")
    mgr.write_state(df, 1, {"level": 1})
    # simulate an interrupted write: snapshot dir without manifest
    os.makedirs(os.path.join(root, "iter=2"), exist_ok=True)
    latest = mgr.latest()
    assert latest["iteration"] == 1


def test_lineage_audit_detects_corruption(spark, tmp_path):
    root = str(tmp_path / "chk3")
    mgr = CheckpointManager(spark, root)
    df = spark.range(10).selectExpr("id as vid")
    mgr.write_state(df, 1, {"level": 1})
    snap = mgr.latest()
    mf = os.path.join(snap["path"], "_MANIFEST.json")
    m = json.load(open(mf))
    m["rows"] = 999
    json.dump(m, open(mf, "w"))
    with pytest.raises(RuntimeError, match="corrupt"):
        mgr.read_state(mgr.latest())


@pytest.mark.parametrize("kernel", ["label_propagation", "connected_components"])
def test_resume_equals_uninterrupted(spark, grid, tmp_path, kernel):
    """Checkpoint/resume parity of the deterministic label kernels:
    interrupted-then-resumed equals uninterrupted bit-for-bit, so exact
    equality is the right assertion."""
    from linkgraph.algos.components import connected_components
    from linkgraph.algos.labelprop import label_propagation

    run = {"label_propagation": label_propagation,
           "connected_components": connected_components}[kernel]
    full = {tuple(r) for r in run(grid, max_iter=8).collect()}

    root = str(tmp_path / f"chk_{kernel}")
    mgr = CheckpointManager(spark, root)
    run(grid, max_iter=4, checkpoint_mgr=mgr, snapshot_every=2)
    snap = mgr.latest()
    assert snap is not None and snap["metrics"]["iteration"] in (2, 4)
    assert snap["lineage"] and all("rows" in p for p in snap["lineage"])

    resumed = {
        tuple(r)
        for r in run(grid, max_iter=8, checkpoint_mgr=mgr, resume=True).collect()
    }
    assert resumed == full


def test_pagerank_resume(spark, grid, tmp_path):
    root = str(tmp_path / "chkpr")
    mgr = CheckpointManager(spark, root)
    full = pagerank(grid, tol=1e-9, max_iter=40)
    partial = pagerank(grid, tol=1e-9, max_iter=10, checkpoint_mgr=mgr, snapshot_every=10)
    resumed = pagerank(grid, tol=1e-9, max_iter=40, checkpoint_mgr=mgr, resume=True)
    a = {r["vid"]: r["pr"] for r in full.collect()}
    b = {r["vid"]: r["pr"] for r in resumed.collect()}
    assert all(abs(a[v] - b[v]) < 1e-9 for v in a)
