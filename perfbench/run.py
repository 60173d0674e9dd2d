#!/usr/bin/env python3
"""Store benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload serve_ingest --seed 1 --seconds 25 --trace 0

Run it from the repository root (the directory holding
``graphdatabase_spark/``). It starts one local Spark session sized to
the machine, generates every input from ``--seed``, runs
``--seconds`` / 25 whole cycles (at least one) of the workload's closed
loop, checks every answer against a pure-Python oracle and prints, as
its last stdout line, one JSON object::

    {"correct": true, "attempted": 14, "failed": 0,
     "metrics": {"latency_p50_s": {"value": 2.41, "unit": "s"}, ...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (and writes the run's spans to
``.perfbench/spans/``). Lines starting with ``#`` before it give every
metric with its sample count, including the workload-specific ones.
All scratch state (store, Spark local dirs, temp files) lives in a
per-run directory under ``.perfbench/tmp/`` that is removed on exit.
See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]

from metricdefs import END_TO_END, OP_TYPES, PER_LAYER, WORKLOADS  # noqa: E402


def driver_mem() -> str:
    """A quarter of the machine's memory, at most 2 GiB: ample for these
    inputs and safe on a shared host."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemTotal:"))
    except (OSError, StopIteration):
        kb = 8 << 20
    return f"{min(2048, kb // 4 // 1024)}m"


def configure_env(tmp: str) -> dict:
    """Size Spark to this machine and keep all its scratch in ``tmp``.
    Must run before the JVM starts."""
    dirs = {k: os.path.join(tmp, k) for k in ("local", "tmp", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_PYTHON": sys.executable,
        # Spark's Python workers import graphdatabase_spark (e.g. the
        # applyInPandas DFS kernel), so they need the repo on their path
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
                os.pathsep) if p]),
    }
    os.environ.update(env)
    tempfile.tempdir = None
    return dirs


def start_spark(dirs: dict):
    from graphdatabase_spark.session import DEFAULT_CONF, get_spark

    java_opts = (DEFAULT_CONF["spark.driver.extraJavaOptions"]
                 + f" -Djava.io.tmpdir={dirs['tmp']}")
    spark = get_spark("perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": java_opts,
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the driver JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_extras(tracer, n_ops: int):
    """Tracing overhead per op: bookkeeping (job tagging, status
    harvesting) and layer probes, both outside the op timers."""
    probe = sum(s["end"] - s["start"] for s in tracer.spans
                if s["parent"] is None and not s["name"].startswith("op."))
    return {
        "trace.overhead_s": (tracer.overhead_s / n_ops, "s", n_ops,
                             "bookkeeping per op, outside op timers"),
        "trace.probe_s": (probe / n_ops, "s", n_ops,
                          "layer probes per op, outside op timers"),
        "trace.spans": (float(len(tracer.spans)), "count", 1, ""),
    }


def run(workload: str, seed: int, seconds: float, trace: bool,
        profile: str, corrupt: str | None, tmp: str, dirs: dict) -> dict:
    """Run one workload in this process; returns the result document.
    ``dirs`` comes from :func:`configure_env`, which must run first
    (the Spark JVM inherits the environment)."""
    t0 = time.perf_counter()
    spark = start_spark(dirs)
    session_s = time.perf_counter() - t0
    import workloads
    from graphdatabase_spark import GraphEngine
    from spans import Tracer

    try:
        tracer = Tracer(spark, trace)
        ctx = {"seed": seed, "seconds": seconds, "tracer": tracer,
               "params": workloads.PROFILES[profile][workload],
               "tmp": tmp, "session_s": session_s,
               "corrupt": corrupt}
        out = workloads.RUNNERS[workload](spark, GraphEngine, ctx)
        rec = out["rec"]
        layer = dict(out["layer"].values)
        if trace:
            layer.update(layer_extras(tracer, len(rec.ops)))
            sdir = os.path.join(ROOT, ".perfbench", "spans")
            os.makedirs(sdir, exist_ok=True)
            tracer.write(os.path.join(sdir, f"{workload}-seed{seed}.jsonl"))
            selft = tracer.self_times()
        else:
            selft = {}
    finally:
        stop_spark(spark)
    if trace:
        metrics = {n: layer.get(n, (0.0, u, 0, "not exercised by this "
                                               "workload"))
                   for n, u in PER_LAYER}
    else:
        metrics = {n: out["e2e"].values[n] for n, _ in END_TO_END}
    return {"workload": workload, "seed": seed, "params": ctx["params"],
            "rec": rec, "metrics": metrics, "named": out["e2e"].values,
            "self_times": selft}


def emit(res: dict, trace: bool) -> None:
    rec = res["rec"]
    w = res["workload"]
    print(f"# perfbench workload={w} seed={res['seed']} "
          f"cpus={os.environ.get('SPARK_GRAFT_CPUS')} "
          f"driver_mem={os.environ.get('SPARK_GRAFT_DRIVER_MEM')}")
    print(f"# params {json.dumps(res['params'], sort_keys=True)}")
    for name, (v, unit, n, note) in sorted(res["named"].items()):
        print(f"# {w} {name} = {v:.6g} {unit} (n={n})"
              + (f" [{note}]" if note else ""))
    if trace:
        for name, (v, unit, n, note) in res["metrics"].items():
            print(f"# {w} layer {name} = {v:.6g} {unit} (n={n})"
                  + (f" [{note}]" if note else ""))
        for name, s in sorted(res["self_times"].items()):
            print(f"# {w} self_time {name} = {s:.4f} s")
    print(f"# {w} op_latencies_s = " + json.dumps(
        [[o["type"], round(o["latency"], 4)] for o in rec.ops]))
    if trace:
        print(f"# {w} op_spark_jobs_stages_tasks = " + json.dumps(
            [[o["type"], *o["spark"].values()] for o in rec.ops]))
    for f in rec.failures:
        print(f"# FAILED {f}")
    doc = {"correct": rec.failed == 0, "attempted": rec.attempted,
           "failed": rec.failed,
           "metrics": {n: {"value": v, "unit": u}
                       for n, (v, u, _, _) in res["metrics"].items()}}
    print(json.dumps(doc), flush=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--profile", choices=("full", "toy"), default="full",
                    help="input sizes; 'toy' is for the benchmark's tests")
    ap.add_argument("--corrupt", choices=OP_TYPES, default=None,
                    help="tests only: falsify the first answer of this op "
                         "type before it is checked")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "graphdatabase_spark",
                                       "__init__.py")):
        print(f"perfbench: no graphdatabase_spark package under {ROOT}; "
              f"run from the repository root", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench", "tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        dirs = configure_env(tmp)
        res = run(args.workload, args.seed, args.seconds, bool(args.trace),
                  args.profile, args.corrupt, tmp, dirs)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    emit(res, bool(args.trace))
    return 0


if __name__ == "__main__":
    sys.exit(main())
