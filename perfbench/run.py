#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It generates the seeded inputs (cached
under ``.perfbench/data``), runs one workload closed loop with a single
client on ``local[<cores>]``, checks the outputs, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics; with
``--trace 1`` they are the per-layer metrics, taken from spans around
the layer calls and from Spark's status stores (see README.md).
Scratch files go to ``.perfbench/work/<pid>`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("query_mix", "etl_workflow")
# Spark task slots: two leave the rest of a small box to the JVM's
# compiler and GC threads, the Python driver and the Python workers.
# In a five-run comparison on a 4-core box this about halved the
# seed-to-seed spread of query_mix's cold_s and warm_s against local[4]
# (README.md, "Noise").
MAX_CPUS = 2


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _configure_env(work: str) -> int:
    """Fail closed on the load set-up; return the core count to use.

    - ``SPARK_GRAFT_CPUS`` above the cores this process may use would
      oversubscribe the box (the program defaults to ``local[32]``), so
      it is refused. Unset, or above ``MAX_CPUS``, the run uses
      min(``MAX_CPUS``, cores).
    - Python workers are started by the JVM and import the program by
      module path, so ``PYTHONPATH`` must name the checkout root.
    - Every scratch path (Python and JVM temp, Spark local dirs) points
      inside the checkout.
    """
    cores = _cores()
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = min(MAX_CPUS, cores)
    if raw is not None:
        try:
            asked = int(raw)
        except ValueError:
            raise SystemExit(f"SPARK_GRAFT_CPUS={raw!r} is not an integer")
        if not 1 <= asked <= cores:
            raise SystemExit(f"SPARK_GRAFT_CPUS={asked} must be between 1 and the {cores} available cores")
        cpus = min(cpus, asked)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # -XX:-UsePerfData: no JVM (launcher or driver) writes /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(f'-Djava.io.tmpdir={tmp} -XX:-UsePerfData')} pyspark-shell"
    )
    # a small data set needs no 8 GB heap; the box is shared
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tempfile.tempdir = tmp
    return cpus


def _metric_units() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return (
        {m["name"]: m["unit"] for m in spec["end_to_end"]},
        {m["name"]: m["unit"] for m in spec["per_layer"]},
    )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    e2e_units, layer_units = _metric_units()
    work = os.path.join(ROOT, ".perfbench", "work", str(os.getpid()))
    cpus = _configure_env(work)
    try:
        import etl_service_spark  # noqa: F401  (the program must be in the checkout)
    except ImportError as exc:
        shutil.rmtree(work, ignore_errors=True)
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    from perfbench.common import Tracer, host_state, shutdown_jvm

    tracer = Tracer(bool(args.trace))
    ctx = SimpleNamespace(
        work=work,
        data_root=os.path.join(ROOT, ".perfbench", "data"),
        seed=args.seed,
        seconds=args.seconds,
        cpus=cpus,
        tracer=tracer,
    )
    host_before = host_state()
    t0 = time.perf_counter()
    try:
        module = importlib.import_module(f"perfbench.{args.workload}")
        res = module.run(ctx)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
    wall = time.perf_counter() - t0

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus, "wall_s": wall,
        "host_before": host_before, "host_after": host_state(),
        "inputs": res["inputs"], "problems": res["problems"],
        "e2e": res["e2e"], "layers": res["layers"], "detail": res["detail"],
    }
    runs = os.path.join(ROOT, ".perfbench", "runs")
    os.makedirs(runs, exist_ok=True)
    stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    tracer.dump(stem + ".spans.json")
    print(json.dumps({k: record[k] for k in ("host_before", "host_after", "problems", "inputs")}, default=str))

    if args.trace:
        # a layer that is not on this workload's path reads 0
        layers = dict(res["layers"])
        layers["trace.overhead_s"] = tracer.overhead_s
        layers["host.load_1m"] = record["host_after"]["loadavg"][0]
        layers["host.cpu_pressure_pct"] = record["host_after"]["cpu_some_avg10"]
        layers["host.steal_s"] = record["host_after"]["steal_s"] - host_before["steal_s"]
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in layer_units.items()}
    else:
        metrics = {k: {"value": float(res["e2e"][k]), "unit": u} for k, u in e2e_units.items()}
    print(json.dumps({
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
