"""The benchmark's own tests, at toy sizes.

    python3 -m pytest perfbench/tests -q

The oracle and generator tests are pure Python. The workload tests run
``perfbench/run.py`` end to end (one Spark session per run, about a
minute each): every workload once with correct answers, and once with a
deliberately corrupted answer that must be counted as a failure.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [ROOT, BENCH]

import gen  # noqa: E402
import oracles  # noqa: E402
from metricdefs import END_TO_END, OP_TYPES, PER_LAYER, WORKLOADS  # noqa: E402


def _run(*args, cwd=ROOT, timeout=300):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=timeout)
    lines = p.stdout.strip().splitlines()
    doc = None
    if lines and lines[-1].startswith("{"):
        doc = json.loads(lines[-1])
    return p, doc


# -- pure Python -----------------------------------------------------------------

def test_metric_lists_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == PER_LAYER
    assert tuple(w["name"] for w in spec["workloads"]) == WORKLOADS
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_tree_graph_levels_are_its_layers():
    rng = random.Random(7)
    for name, widths in gen.TEMPLATES.items():
        n, edges = gen.tree_graph(rng, widths)
        levels = dict(oracles.bfs_levels(edges, 1))
        assert len(levels) == n               # every vertex reachable
        assert max(levels.values()) == len(widths) - 1
        # a symmetric tree, like the fixture graphs it is drawn after
        assert len(edges) == 2 * (n - 1)
        assert all(s != d and (d, s) in set(edges) for s, d in edges)


def test_templates_come_from_the_fixtures():
    fixtures = gen.fixture_catalog()
    assert "G12" not in fixtures and {"G0", "W1", "W2"} <= set(fixtures)
    for name, widths in gen.TEMPLATES.items():
        if name == "chain10":
            continue
        n, edges, _ = fixtures[name]
        assert sum(widths) == n
        assert gen.tree_graph(random.Random(1), widths)[0] <= n


def test_generators_are_seeded():
    shapes = ["G4", "G7"]
    a = gen.catalog(random.Random(3), shapes, 6)
    b = gen.catalog(random.Random(3), shapes, 6)
    c = gen.catalog(random.Random(4), shapes, 6)
    assert a == b and a != c
    d1 = gen.corpus(random.Random(3), 50, 20, 3, 3, 0.03, 200, 3, 0.5)
    d2 = gen.corpus(random.Random(3), 50, 20, 3, 3, 0.03, 200, 3, 0.5)
    assert d1 == d2 and d1[1]   # planted pairs exist


def test_matrix_text_round_trip():
    n, edges = gen.tree_graph(random.Random(1), [1, 2, 3])
    weights = {edges[0]: 4}
    rows = gen.matrix_text(n, edges, weights).strip().split("\n")
    assert int(rows[0]) == n
    got = {(i, j + 1): int(c) for i, r in enumerate(rows[1:], 1)
           for j, c in enumerate(r.split()) if c != "0"}
    assert got == {e: weights.get(e, 1) for e in edges}


def test_component_and_pagerank_oracles():
    comp = oracles.components(range(1, 6), [(2, 1), (4, 5)])
    assert comp == {1: 1, 2: 1, 3: 3, 4: 4, 5: 4}
    # a 2-cycle plus a dangling vertex: ranks keep summing to n
    ranks = oracles.pagerank([1, 2, 3], [(1, 2), (2, 1), (1, 3)], 7)
    assert abs(sum(ranks.values()) - 3.0) < 1e-9
    assert oracles.ranks_match(ranks, dict(ranks))
    assert not oracles.ranks_match(ranks, {**ranks, 3: ranks[3] + 1e-3})


def test_store_model_applies_writes_in_order():
    m = oracles.StoreModel()
    m.overwrite("g", [(1, 2), (2, 3)])
    m.append("g", [(3, 1)])
    m.upsert("g", [(1, 2, 4), (1, 3, 2)])
    m.delete("g", [(2, 3)])
    assert m.rows() == {("g", 1, 2, 4), ("g", 3, 1, 1), ("g", 1, 3, 2)}
    m.overwrite("g", [(5, 6), (6, 5, 3)])
    assert m.rows() == {("g", 5, 6, 1), ("g", 6, 5, 3)}


def test_dedup_pair_checks():
    sh = {1: {"a b c", "b c d"}, 2: {"a b c", "b c d"}, 3: {"x y z"}}
    assert oracles.verified_pairs_ok([(1, 2)], sh, 0.5)
    assert not oracles.verified_pairs_ok([(1, 3)], sh, 0.5)
    assert not oracles.verified_pairs_ok([(1, 2), (1, 2)], sh, 0.5)
    assert oracles.verify_candidates({(1, 2), (1, 3)}, sh, 0.5) == {(1, 2)}
    # identical shingle sets share every LSH band; disjoint ones none
    assert oracles.lsh_candidates(sh) == {(1, 2)}


# -- end to end ---------------------------------------------------------------------

@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_runs_and_checks_out(workload):
    p, doc = _run("--workload", workload, "--seed", "5", "--seconds", "1",
                  "--trace", "0", "--profile", "toy")
    assert p.returncode == 0, p.stderr[-3000:]
    assert doc["correct"] and doc["failed"] == 0 and doc["attempted"] >= 5
    assert [k for k in doc["metrics"]] == [n for n, _ in END_TO_END]
    assert all(v["value"] > 0 for v in doc["metrics"].values())


@pytest.mark.parametrize("workload,op", [("serve_ingest", "read_after_write"),
                                         ("scan_dedup", "pagerank_all")])
def test_corrupted_answer_is_a_failure(workload, op):
    assert op in OP_TYPES
    p, doc = _run("--workload", workload, "--seed", "6", "--seconds", "1",
                  "--trace", "1", "--profile", "toy", "--corrupt", op)
    assert p.returncode == 0, p.stderr[-3000:]
    assert not doc["correct"] and doc["failed"] == 1
    assert f"# FAILED {op}#" in p.stdout
    # the traced run reports every per-layer metric
    assert [k for k in doc["metrics"]] == [n for n, _ in PER_LAYER]
    assert doc["metrics"][f"spark.jobs_per_op.{op}"]["value"] > 0


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it exits non-zero
    without printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p, doc = _run("--workload", "serve_ingest", "--seed", "1", "--seconds",
                  "1", "--trace", "0", cwd=tmp_path, timeout=60)
    assert p.returncode != 0 and doc is None
