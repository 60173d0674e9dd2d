"""Point reads (``GraphEngine.bfs`` / ``dfs_leaves`` of one graph):
the in-process path and its distributed fallback against the kernels,
the memoized commit scans behind them, and their Spark job count.

Fast tier on purpose: every store module is marked ``slow``, so these
are the default suite's only point reads. Expected answers come from
the engine's distributed kernels — the batched ``bfs_all`` /
``dfs_leaves_all`` rows per graph, and ``pregel.bfs_levels`` /
``dfs.dfs_leaves``, which the point forms run themselves when the
edge cap is 0 — over the reference fixture corpus
(``store_queries.FIXTURE_GRAPHS``)."""

from __future__ import annotations

import time
import uuid

import pytest

from graphdatabase_spark import engine as engine_mod
from graphdatabase_spark.engine import GraphEngine
from graphdatabase_spark.operators import dfs as dfs_mod
from graphdatabase_spark.operators import pregel
from graphdatabase_spark.operators.store_queries import (FIXTURE_GRAPHS,
                                                         matrix_text)

START = 1
# padding graphs pushing the ingest commit past Spark's 32-subdir
# parallel-listing threshold, so an unmemoized commit scan would run a
# listing job of its own
N_PAD = 26


def _ingest(eng: GraphEngine, tmp_path, graphs: dict[str, str]) -> None:
    src = tmp_path / f"ingest-{uuid.uuid4().hex[:6]}"
    src.mkdir()
    for name, text in graphs.items():
        (src / f"{name}.txt").write_text(text)
    eng.ingest_dir(str(src))


@pytest.fixture(scope="module")
def fixture_store(spark, tmp_path_factory):
    """Every fixture graph plus padding, in ONE ingest commit."""
    tmp = tmp_path_factory.mktemp("point_reads")
    eng = GraphEngine(spark, str(tmp / "store"))
    graphs = {g: matrix_text(g) for g in FIXTURE_GRAPHS}
    graphs.update({f"pad{i:02d}": matrix_text("G9") for i in range(N_PAD)})
    _ingest(eng, tmp, graphs)
    return eng


def _point(eng: GraphEngine, g: str, start: int = START):
    bfs = {(r["vertex"], r["level"]) for r in eng.bfs(g, start).collect()}
    leaves = {r["leaf"] for r in eng.dfs_leaves(g, start).collect()}
    return bfs, leaves


def _batched(eng: GraphEngine):
    bfs: dict[str, set] = {}
    for r in eng.bfs_all(START).collect():
        bfs.setdefault(r["graph"], set()).add((r["vertex"], r["level"]))
    leaves: dict[str, set] = {}
    for r in eng.dfs_leaves_all(START).collect():
        leaves.setdefault(r["graph"], set()).add(r["leaf"])
    return bfs, leaves


def _check_point_reads(eng, graphs, monkeypatch):
    """Point reads of ``graphs`` equal the batched rows, on the
    in-process path and with the cap at 0 (every non-empty graph then
    runs the distributed kernels, counted through a spy)."""
    want_bfs, want_leaves = _batched(eng)
    calls = []
    real = pregel.bfs_levels

    def spy(*a, **k):
        calls.append(1)
        return real(*a, **k)

    for cap in (engine_mod.POINT_READ_MAX_EDGES, 0):
        with monkeypatch.context() as m:
            m.setattr(engine_mod, "POINT_READ_MAX_EDGES", cap)
            m.setattr(pregel, "bfs_levels", spy)
            for g in graphs:
                got_bfs, got_leaves = _point(eng, g)
                assert got_bfs == want_bfs.get(g, set()), (g, cap)
                assert got_leaves == want_leaves.get(g, set()), (g, cap)
        if cap:
            assert not calls  # fixture graphs never leave the local path
    assert calls  # the fallback ran


def test_fresh_fixture_graphs_match_kernels(fixture_store, monkeypatch):
    eng = fixture_store
    _check_point_reads(eng, sorted(FIXTURE_GRAPHS), monkeypatch)
    # and directly against the single-graph kernels
    snap = eng.snapshot()
    starts = eng.spark.createDataFrame(
        [(g, START) for g in FIXTURE_GRAPHS if g != "G12"],
        "graph string, start long")
    kernel_leaves: dict[str, set] = {}
    for r in dfs_mod.dfs_leaves(
            snap.edges(list(FIXTURE_GRAPHS)).select("graph", "src", "dst"),
            starts).collect():
        kernel_leaves.setdefault(r["graph"], set()).add(r["leaf"])
    for g in ("G2", "G5", "G6", "W1"):
        kernel = {(r["vid"], r["level"]) for r in pregel.bfs_levels(
            snap.edges(g).select("src", "dst"), [START]).collect()}
        assert _point(eng, g)[0] == kernel, g
    for g in kernel_leaves:
        assert _point(eng, g)[1] == kernel_leaves[g], g


def test_point_reads_without_a_start_vertex_are_empty(fixture_store):
    """Same rule as the batched forms: the start must be in the
    graph's vertex table — an empty graph, an unknown graph or an
    absent start answers no rows; an isolated start answers itself."""
    eng = fixture_store
    for g, start in (("G12", 1), ("NOPE", 1), ("G3", 7)):
        assert _point(eng, g, start) == (set(), set()), g
    assert _point(eng, "W2", 5) == ({(5, 0)}, {5})


def test_point_reads_track_every_write_kind(spark, tmp_path, monkeypatch):
    eng = GraphEngine(spark, str(tmp_path / "store"))
    _ingest(eng, tmp_path, {g: matrix_text(g) for g in ("G5", "G6", "W2")})
    graphs = ["G5", "G6", "W2"]

    def edges(rows, w=True):
        ddl = "graph string, src int, dst int" + (", w int" if w else "")
        return spark.createDataFrame(rows, ddl)

    _check_point_reads(eng, graphs, monkeypatch)
    # append: a new branch off a leaf, and W2's isolated 5 joins in
    eng.append_edges(edges([("G5", 10, 14, 1), ("G5", 14, 15, 1),
                            ("W2", 4, 5, 1)]))
    _check_point_reads(eng, graphs, monkeypatch)
    # delta upsert: a shortcut that moves levels up
    eng.merge_edges(edges([("G6", 1, 27, 3), ("G5", 1, 10, 1)]),
                    mode="delta")
    _check_point_reads(eng, graphs, monkeypatch)
    # delta delete: cut G6's tree below vertex 2
    eng.merge_edges(edges([("G6", 1, 2)], w=False), delete=True,
                    mode="delta")
    _check_point_reads(eng, graphs, monkeypatch)
    # overwrite
    eng.add_graph("G5", matrix_text("G4"))
    _check_point_reads(eng, graphs, monkeypatch)


def _count_jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, from the status tracker. The tracker is
    filled asynchronously by the listener bus, so a one-task marker job
    runs afterwards and is awaited: events are delivered in order, so
    once the marker shows as finished every job of ``fn`` is counted."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    gid = f"point-read-{uuid.uuid4().hex}"
    marker = gid + "-marker"
    sc.setJobGroup(gid, gid)
    try:
        fn()
        sc.setJobGroup(marker, marker)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.time() + 60
    while time.time() < deadline:
        ids = tracker.getJobIdsForGroup(marker)
        info = tracker.getJobInfo(ids[0]) if ids else None
        if info is not None and info.status == "SUCCEEDED":
            break
        time.sleep(0.05)
    else:
        raise AssertionError("status tracker never reported the marker job")
    return len(tracker.getJobIdsForGroup(gid))


def test_warm_point_reads_run_one_spark_job(fixture_store):
    """Once a graph's commit has been read, a point bfs is exactly one
    Spark job (the capped collect) and a dfs_leaves at most one: no
    file listing, no superstep loop, no job to build the result."""
    eng = fixture_store
    eng.bfs("G6", START).collect()  # memoizes the commit's scans
    assert _count_jobs(eng.spark,
                       lambda: eng.bfs("G6", START).collect()) == 1
    assert _count_jobs(eng.spark,
                       lambda: eng.dfs_leaves("G6", START).collect()) <= 1


def test_replayed_commit_id_after_vacuum_reads_new_rows(spark, tmp_path):
    """``append_edges(commit_id=...)`` lets a caller reuse an id once
    compaction dropped it from the manifest; a replay after vacuum
    re-lands the same ``c=<cid>`` dir with different rows, so the
    memoized scans of the old dir must not serve it."""
    eng = GraphEngine(spark, str(tmp_path / "store"))
    eng.add_graph("R", "2\n0 1\n0 0\n")

    def edges(rows):
        return spark.createDataFrame(rows, "graph string, src int, dst int")

    assert eng.append_edges(edges([("R", 2, 3)]), commit_id="x")
    assert {(r["vertex"], r["level"]) for r in eng.bfs("R", 1).collect()} \
        == {(1, 0), (2, 1), (3, 2)}
    eng.compact()
    assert eng.vacuum(force=True) > 0
    assert eng.append_edges(edges([("R", 3, 4), ("R", 4, 5)]),
                            commit_id="x")
    assert {(r["src"], r["dst"]) for r in eng.edges("R").collect()} == \
        {(1, 2), (2, 3), (3, 4), (4, 5)}
    assert {r["vid"] for r in eng.vertices("R").collect()} == {1, 2, 3, 4, 5}
    assert {(r["vertex"], r["level"]) for r in eng.bfs("R", 1).collect()} \
        == {(1, 0), (2, 1), (3, 2), (4, 3), (5, 4)}


def test_vacuumed_snapshot_still_raises_after_memoized_reads(spark, tmp_path):
    eng = GraphEngine(spark, str(tmp_path / "store"))
    eng.add_graph("T", "2\n0 1\n0 0\n")                      # seq 1
    eng.modify_graph("T", "3\n0 0 0\n0 0 0\n1 0 0\n")        # seq 2
    old = eng.snapshot(seq=1)
    assert {(r["src"], r["dst"]) for r in old.edges("T").collect()} == {(1, 2)}
    eng.vacuum(force=True)
    with pytest.raises(FileNotFoundError, match="seq 1"):
        eng.snapshot(seq=1)
    assert {(r["vertex"], r["level"]) for r in eng.bfs("T", 3).collect()} \
        == {(3, 0), (1, 1)}
