#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload term_queries --seed 1 \
        --seconds 10 --trace 0

Run it from the repository root. It prints two JSON lines: first the
run's detail (sample counts, setup cycles, host idle and steal, time
spent on checks and in the whole process), then the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones
(see ``perfbench/README.md``).

Everything the run writes stays under ``.perfbench_work/`` in the
repository root; its scratch directory is removed when it ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "project_2_semantic_similarity_spark"
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# A fixed, small driver heap. The engine's 16g default can exceed the
# RAM of a small box, and G1 grows the heap toward its limit at moments
# that depend on GC timing; with a 1g limit every run reaches it early,
# so peak resident memory varies less from run to run.
DRIVER_MEM = "1g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("term_queries", "dedup_knn_batch"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment() -> str:
    """Point every setting the engine reads at this run, before the
    JVM starts; returns the run's scratch directory."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    for name in os.listdir(WORK_ROOT):  # scratch of runs that died
        if name.startswith("run-") and not os.path.exists(
                f"/proc/{name[4:]}"):
            shutil.rmtree(os.path.join(WORK_ROOT, name), ignore_errors=True)
    workdir = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp)
    env = os.environ
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Python workers import the engine by name.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["P2SS_SCRATCH_DIR"] = os.path.join(workdir, "p2ss")
    env["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "spark-local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={tmp}") if p)
    return workdir


def shutdown(run) -> None:
    """Stop the session, then the JVM and the Python workers below it,
    and wait until each has exited."""
    from pyspark import SparkContext

    from perfbench.tracer import alive, descendants

    gw = SparkContext._gateway
    if gw is None:
        return
    pids = descendants(gw.proc.pid)
    if run.spark is not None:
        run.stop_session()
    gw.shutdown()
    gw.proc.stdin.close()  # the gateway JVM exits on EOF
    try:
        gw.proc.wait(timeout=60)
    except Exception:
        gw.proc.kill()
        gw.proc.wait(timeout=30)
    for pid in pids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    while any(map(alive, pids)) and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: {ENGINE}/ not found under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    workdir = prepare_environment()
    sys.path.insert(0, ROOT)
    from perfbench import workloads as W

    run = W.Run(args.workload, args.seed, args.seconds, bool(args.trace),
                workdir)
    try:
        W.WORKLOADS[args.workload](run)
        metrics = W.per_layer(run) if args.trace else W.end_to_end(run)
        if args.trace:
            run.tracer.write(os.path.join(
                WORK_ROOT, f"spans-{args.workload}-{args.seed}.json"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            shutdown(run)
        finally:
            shutil.rmtree(workdir, ignore_errors=True)
    print(json.dumps({"detail": {**W.detail(run),
                                 "process_s": time.time() - START}}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
