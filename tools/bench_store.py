"""Measure batched whole-store analytics vs per-graph loops.

The engine's batched kernels (bfs_all, scc_all, cc_all, pagerank_all,
sssp_all)
claim set-oriented economics: ONE superstep loop over the packed /
grouped union of every stored graph, so whole-store cost tracks the
LARGEST graph's superstep count, not the SUM of per-graph runs (each
of which pays its own kernel setup + its own sequence of driver-side
superstep barriers). This tool makes that a measured fact:

- builds a store of ``N_GRAPHS`` seeded random digraphs of varied size
  (the reference's matrix envelope, ``secondary_server.c:30`` caps
  N at 100) in one bulk ingest commit,
- times each batched kernel once,
- times the per-graph loop (the reference's one-graph-per-request
  serving pattern) over every graph,
- times the largest graph alone (the batched lower bound),

and writes ``BENCH_STORE.json`` at the repo root.

The per-graph ``bfs`` loop no longer pays superstep barriers:
``GraphEngine.bfs`` traverses a graph of at most
``POINT_READ_MAX_EDGES`` edges in-process after one collect, so the
committed ``BENCH_STORE.json``, which predates that path, overstates
the per-graph BFS cost. The other per-graph kernels still run their
distributed loops.

Usage: python tools/bench_store.py

Scale mode: ``python tools/bench_store.py --scale [n1,n2,...]``
(default 100,1000,5000 graphs) answers the question the 16-graph run
cannot: does "one kernel run for the whole catalog" hold when the
catalog is 2-3 orders of magnitude past the reference's envelope?
For each catalog size it builds a seeded random store (same size/edge
distribution), times bulk ingest and each batched kernel once, and
times the per-graph loop over a 20-graph SAMPLE (extrapolated, and
labeled as such — a measured 5000-graph loop would take hours, which
is itself the point). Writes ``BENCH_STORE_SCALE.json``.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_GRAPHS = 16
SIZES = [20 + (80 * i) // (N_GRAPHS - 1) for i in range(N_GRAPHS)]  # 20..100
EDGE_P = 0.08
PAGERANK_ITERS = 8
SEED = 20260814


def make_matrix(rng: random.Random, n: int) -> str:
    rows = []
    for i in range(n):
        rows.append(" ".join(
            "1" if (j != i and rng.random() < EDGE_P) else "0"
            for j in range(n)))
    return f"{n}\n" + "\n".join(rows) + "\n"


def timed(fn):
    t0 = time.perf_counter()
    n = fn().count()
    return round(time.perf_counter() - t0, 3), n


def main() -> None:
    from graphdatabase_spark import get_spark
    from graphdatabase_spark.engine import GraphEngine

    spark = get_spark("bench-store",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="bench_store_")
    try:
        rng = random.Random(SEED)
        gdir = os.path.join(tmp, "graphs")
        os.makedirs(gdir)
        names = []
        for i, n in enumerate(SIZES):
            name = f"B{i:02d}"
            names.append(name)
            with open(os.path.join(gdir, f"{name}.txt"), "w") as f:
                f.write(make_matrix(rng, n))
        largest = names[SIZES.index(max(SIZES))]
        eng = GraphEngine(spark, os.path.join(tmp, "store"))
        eng.ingest_dir(gdir)

        # warm the JVM + the store's parquet footers off the clock
        eng.stats().count()

        out: dict[str, dict] = {}
        kernels = {
            "bfs": (lambda: eng.bfs_all(1),
                    lambda g: eng.bfs(g, 1)),
            "scc": (lambda: eng.scc_all(),
                    lambda g: eng.scc(g)),
            "cc": (lambda: eng.cc_all(),
                   lambda g: eng.connected_components(g)),
            "pagerank": (lambda: eng.pagerank_all(iterations=PAGERANK_ITERS),
                         lambda g: eng.pagerank(g, iterations=PAGERANK_ITERS)),
            "sssp": (lambda: eng.sssp_all(1),
                     lambda g: eng.sssp(g, 1)),
        }
        for key, (batched, per_graph) in kernels.items():
            b_sec, b_rows = timed(batched)
            l_sec, _ = timed(lambda: per_graph(largest))
            s_sec = 0.0
            for g in names:
                t, _ = timed(lambda: per_graph(g))
                s_sec = round(s_sec + t, 3)
            out[key] = {
                "batched_sec": b_sec,
                "largest_graph_sec": l_sec,
                "per_graph_sum_sec": s_sec,
                "rows": b_rows,
                "speedup_vs_sum": round(s_sec / b_sec, 2),
                "ratio_vs_largest": round(b_sec / l_sec, 2),
            }
            print(f"# {key}: batched {b_sec}s, largest-alone {l_sec}s, "
                  f"per-graph sum {s_sec}s", file=sys.stderr)

        doc = {
            "metric": "whole_store_batched_vs_per_graph_seconds",
            "n_graphs": N_GRAPHS,
            "sizes": SIZES,
            "edge_p": EDGE_P,
            "seed": SEED,
            "kernels": out,
        }
        with open(os.path.join(REPO, "BENCH_STORE.json"), "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(json.dumps(doc, sort_keys=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main_scale(counts: list[int]) -> None:
    from graphdatabase_spark import get_spark
    from graphdatabase_spark.engine import GraphEngine

    spark = get_spark("bench-store-scale",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    points = []
    for n_graphs in counts:
        tmp = tempfile.mkdtemp(prefix=f"bench_store_{n_graphs}_")
        try:
            rng = random.Random(SEED)
            gdir = os.path.join(tmp, "graphs")
            os.makedirs(gdir)
            names = []
            for i in range(n_graphs):
                n = rng.randint(20, 100)  # the reference's size envelope
                name = f"S{i:05d}"
                names.append(name)
                with open(os.path.join(gdir, f"{name}.txt"), "w") as f:
                    f.write(make_matrix(rng, n))
            eng = GraphEngine(spark, os.path.join(tmp, "store"))
            t0 = time.perf_counter()
            eng.ingest_dir(gdir)
            ingest_sec = round(time.perf_counter() - t0, 3)
            n_edges = eng.edges().count()  # also warms parquet footers
            n_vertices = eng.vertices().count()

            point = {"n_graphs": n_graphs, "n_edges": n_edges,
                     "n_vertices": n_vertices, "ingest_sec": ingest_sec,
                     "kernels": {}}
            kernels = {
                "bfs": (lambda: eng.bfs_all(1), lambda g: eng.bfs(g, 1)),
                "scc": (lambda: eng.scc_all(), lambda g: eng.scc(g)),
                "cc": (lambda: eng.cc_all(),
                       lambda g: eng.connected_components(g)),
                "pagerank": (
                    lambda: eng.pagerank_all(iterations=PAGERANK_ITERS),
                    lambda g: eng.pagerank(g, iterations=PAGERANK_ITERS)),
                "sssp": (lambda: eng.sssp_all(1), lambda g: eng.sssp(g, 1)),
            }
            sample = random.Random(SEED + 1).sample(names, min(20, n_graphs))
            for key, (batched, per_graph) in kernels.items():
                b_sec, b_rows = timed(batched)
                s_sec = 0.0
                for g in sample:
                    t, _ = timed(lambda: per_graph(g))
                    s_sec += t
                est_loop = round(s_sec / len(sample) * n_graphs, 1)
                point["kernels"][key] = {
                    "batched_sec": b_sec, "rows": b_rows,
                    "per_graph_loop_est_sec": est_loop,
                    "loop_sample_size": len(sample),
                    "est_speedup_vs_loop": round(est_loop / b_sec, 1),
                }
                print(f"# n={n_graphs} {key}: batched {b_sec}s, "
                      f"loop est {est_loop}s", file=sys.stderr)
            points.append(point)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    # scaling ratio between consecutive catalog sizes, per kernel
    readings = {}
    for k in points[0]["kernels"]:
        curve = []
        for a, b in zip(points, points[1:]):
            data_x = b["n_edges"] / max(1, a["n_edges"])
            time_x = (b["kernels"][k]["batched_sec"]
                      / max(1e-9, a["kernels"][k]["batched_sec"]))
            curve.append({"graphs": f'{a["n_graphs"]}->{b["n_graphs"]}',
                          "edge_growth_x": round(data_x, 2),
                          "time_growth_x": round(time_x, 2)})
        readings[k] = curve
    doc = {"metric": "whole_store_batched_kernels_vs_catalog_size",
           "seed": SEED, "edge_p": EDGE_P, "points": points,
           "scaling": readings}
    with open(os.path.join(REPO, "BENCH_STORE_SCALE.json"), "w") as f:
        json.dump(doc, f, indent=1, sort_keys=True)
    print(json.dumps(doc, sort_keys=True))


def main_dirs(n_graphs: int, buckets: int) -> None:
    """The round-8 verdict's directory-count caveat, measured: a
    5,000-graph ingest wrote 3×N partition dirs per commit under the
    graph-partitioned layout; the bucketed layout must write ≤3×B
    regardless of N, with the same read results. Builds BOTH stores
    from the same seeded corpus, records ingest wall time, dir counts,
    and a read-parity check; writes ``BENCH_STORE_DIRS.json``."""
    from graphdatabase_spark import get_spark
    from graphdatabase_spark.engine import GraphEngine

    spark = get_spark("bench-store-dirs",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix=f"bench_store_dirs_{n_graphs}_")
    try:
        rng = random.Random(SEED)
        gdir = os.path.join(tmp, "graphs")
        os.makedirs(gdir)
        for i in range(n_graphs):
            n = rng.randint(20, 100)  # the reference's size envelope
            with open(os.path.join(gdir, f"S{i:05d}.txt"), "w") as f:
                f.write(make_matrix(rng, n))

        def build(path: str, b: int | None) -> dict:
            eng = GraphEngine(spark, path, buckets=b)
            t0 = time.perf_counter()
            eng.ingest_dir(gdir)
            ingest_sec = round(time.perf_counter() - t0, 3)
            dirs = {}
            for table in ("edges", "vertices", "meta"):
                root = os.path.join(path, "data", table)
                (commit,) = os.listdir(root)
                dirs[table] = len(os.listdir(os.path.join(root, commit))) - 2
            t0 = time.perf_counter()
            n_edges = eng.edges().count()
            scan_sec = round(time.perf_counter() - t0, 3)
            t0 = time.perf_counter()
            one = eng.edges("S00000").count()
            one_sec = round(time.perf_counter() - t0, 3)
            return {"ingest_sec": ingest_sec, "partition_dirs": dirs,
                    "n_edges": n_edges, "full_scan_sec": scan_sec,
                    "single_graph_rows": one, "single_graph_sec": one_sec}

        legacy = build(os.path.join(tmp, "plain"), None)
        bucketed = build(os.path.join(tmp, "bucketed"), buckets)
        assert legacy["n_edges"] == bucketed["n_edges"]
        assert legacy["single_graph_rows"] == bucketed["single_graph_rows"]
        doc = {"metric": "store_partition_dirs_vs_catalog_size",
               "n_graphs": n_graphs, "buckets": buckets, "seed": SEED,
               "edge_p": EDGE_P, "legacy": legacy, "bucketed": bucketed}
        with open(os.path.join(REPO, "BENCH_STORE_DIRS.json"), "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(json.dumps(doc, sort_keys=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main_props(n_graphs: int, buckets: int) -> None:
    """Round-10: the vertex-property COW upsert's catalog-size
    independence, measured. One bucketed store with N graphs; a
    ``set_vertex_props`` touching k graphs rewrites those k graphs
    only (copy-on-write + CAS pointer flips, ≤B partition dirs per
    table per commit), so its cost must track k, not N. Writes
    ``BENCH_STORE_PROPS.json``."""
    from pyspark.sql import functions as F

    from graphdatabase_spark import get_spark
    from graphdatabase_spark.engine import GraphEngine

    spark = get_spark("bench-store-props",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix=f"bench_store_props_{n_graphs}_")
    try:
        rng = random.Random(SEED)
        gdir = os.path.join(tmp, "graphs")
        os.makedirs(gdir)
        for i in range(n_graphs):
            n = rng.randint(20, 100)
            with open(os.path.join(gdir, f"S{i:05d}.txt"), "w") as f:
                f.write(make_matrix(rng, n))
        eng = GraphEngine(spark, os.path.join(tmp, "store"),
                          buckets=buckets)
        t0 = time.perf_counter()
        eng.ingest_dir(gdir)
        ingest_sec = round(time.perf_counter() - t0, 3)
        upserts = {}
        for k in (1, 10, 100):
            rows = [(f"S{i:05d}", v, f"label{v}")
                    for i in range(k) for v in (1, 2, 3)]
            df = spark.createDataFrame(
                rows, "graph string, vid int, tag string")
            t0 = time.perf_counter()
            adopted, skipped = eng.set_vertex_props(df)
            sec = round(time.perf_counter() - t0, 3)
            assert len(adopted) == k and not skipped
            upserts[f"touch_{k}"] = sec
        t0 = time.perf_counter()
        got = {r["vid"]: r["tag"]
               for r in eng.snapshot().vertices("S00000", props=True)
               .filter(F.col("tag").isNotNull()).collect()}
        read_sec = round(time.perf_counter() - t0, 3)
        assert got == {1: "label1", 2: "label2", 3: "label3"}
        # round-12: the merge-on-read alternative (mode="delta") — the
        # write must track BATCH size, the read pays the delta merge
        # until compact() collapses it
        delta_upserts = {}
        for k in (1, 10, 100):
            rows = [(f"S{i:05d}", v, f"dlabel{v}")
                    for i in range(k) for v in (4, 5, 6)]
            df = spark.createDataFrame(
                rows, "graph string, vid int, tag string")
            t0 = time.perf_counter()
            adopted, skipped = eng.set_vertex_props(df, mode="delta")
            sec = round(time.perf_counter() - t0, 3)
            assert len(adopted) == k and not skipped
            delta_upserts[f"touch_{k}"] = sec
        t0 = time.perf_counter()
        got = {r["vid"]: r["tag"]
               for r in eng.snapshot().vertices("S00000", props=True)
               .filter(F.col("tag").isNotNull()).collect()}
        read_delta_sec = round(time.perf_counter() - t0, 3)
        assert got == {1: "label1", 2: "label2", 3: "label3",
                       4: "dlabel4", 5: "dlabel5", 6: "dlabel6"}, got
        t0 = time.perf_counter()
        eng.compact()
        compact_sec = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        got2 = {r["vid"]: r["tag"]
                for r in eng.snapshot().vertices("S00000", props=True)
                .filter(F.col("tag").isNotNull()).collect()}
        read_compacted_sec = round(time.perf_counter() - t0, 3)
        assert got2 == got, "compaction changed the read-back"
        # round-12: the EDGE-side MoR twin — merge_edges COW vs delta
        # at the same touch counts (upserting 3 edges per touched graph)
        em_cow, em_delta = {}, {}
        for dest, mode in ((em_cow, "cow"), (em_delta, "delta")):
            for k in (1, 10, 100):
                rows = [(f"S{i:05d}", 1, v, 7)
                        for i in range(k) for v in (2, 3, 4)]
                df = spark.createDataFrame(
                    rows, "graph string, src int, dst int, w int")
                t0 = time.perf_counter()
                adopted, skipped = eng.merge_edges(df, mode=mode)
                dest[f"touch_{k}"] = round(time.perf_counter() - t0, 3)
                assert len(adopted) == k and not skipped
        doc = {"metric": "vertex_prop_cow_upsert_vs_catalog_size",
               "n_graphs": n_graphs, "buckets": buckets, "seed": SEED,
               "ingest_sec": ingest_sec, "upsert_sec": upserts,
               "single_graph_props_read_sec": read_sec,
               "delta_upsert_sec": delta_upserts,
               "single_graph_props_read_after_3_deltas_sec": read_delta_sec,
               "compact_sec": compact_sec,
               "single_graph_props_read_after_compact_sec":
                   read_compacted_sec,
               "edge_merge_cow_sec": em_cow,
               "edge_merge_delta_sec": em_delta}
        with open(os.path.join(REPO, "BENCH_STORE_PROPS.json"), "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        print(json.dumps(doc, sort_keys=True))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    if len(sys.argv) >= 2 and sys.argv[1] == "--scale":
        arg = sys.argv[2] if len(sys.argv) >= 3 else "100,1000,5000"
        main_scale([int(x) for x in arg.split(",")])
    elif len(sys.argv) >= 2 and sys.argv[1] == "--dirs":
        n = int(sys.argv[2]) if len(sys.argv) >= 3 else 5000
        b = int(sys.argv[3]) if len(sys.argv) >= 4 else 64
        main_dirs(n, b)
    elif len(sys.argv) >= 2 and sys.argv[1] == "--props":
        n = int(sys.argv[2]) if len(sys.argv) >= 3 else 5000
        b = int(sys.argv[3]) if len(sys.argv) >= 4 else 64
        main_props(n, b)
    else:
        main()
