"""Benchmark entry point.

    python3 perfbench/run.py --workload e2_stream --seed 1 --seconds 10 --trace 0

Runs one workload against the program in this checkout, checks the
program's outputs, and prints one JSON object as the last line of
stdout: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it records the host noise of the
timed section. Everything the run writes lives under
``perfbench/.work/`` and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("e2_stream", "batch_queries")


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str) -> dict:
    """Point every temp and Spark path into ``work`` and size the
    session to this host; returns what was chosen."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # the program ships itself to Python workers as a zip under
    # tempfile.gettempdir(); keep it inside the run's directory
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # the launcher JVM that spark-submit starts first: no /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    heap = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    return {"cpus": int(cpus), "heap": heap}


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    # fails (exit != 0, no result) when the program is not in the checkout
    import b3_analytics_engine_spark  # noqa: F401

    from metrics import END_TO_END, PER_LAYER
    from workloads import Ctx, run_workload

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        env = _environment(work)
        ctx = Ctx(args.seed, args.seconds, bool(args.trace), work)
        res = run_workload(args.workload, ctx)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    if args.trace:
        units = PER_LAYER
        values = {n: res.metrics.get(n, 0.0) for n in units}  # a layer never called reads 0
    else:
        units = END_TO_END
        values = {n: res.metrics[n] for n in units}
    metrics = {n: {"value": float(values[n]), "unit": u} for n, u in units.items()}
    print(json.dumps({"host": res.host, "session": env, "errors": res.errors[:20],
                      "ops": res.ops}))
    print(json.dumps({
        "correct": not res.errors,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
