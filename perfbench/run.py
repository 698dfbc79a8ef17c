"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,query} --seed N \
        --seconds S --trace {0,1}

Run from the repository root. Prints one JSON line of run details (pinned
settings, raw walls, host probes), then, as the last line of stdout, the
result: {"correct", "attempted", "failed", "metrics"}. `--trace 0` reports
the end-to-end metrics, `--trace 1` the per-layer ones (see metrics.py).
Exits non-zero without a result line on any failure.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

WORKLOADS = ("build", "query")


def _workload(name: str):
    import wl_build
    import wl_query

    return {"build": wl_build, "query": wl_query}[name]


def _expected(name: str, seed: int, traced: bool) -> dict:
    """The oracle's answers, computed in a child process that has exited
    before any measurement starts (its memory stays out of `peak_pss_mb`).
    A plain child, not a multiprocessing pool: a spawn-context pool leaves
    its resource-tracker process running past the end of the run."""
    import pickle
    import subprocess

    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "oracle_check.py"), name, str(seed),
         str(int(traced))],
        stdout=subprocess.PIPE, check=True,
    ).stdout
    return pickle.loads(out)


def measure(args) -> tuple[dict, dict]:
    import harness
    import metrics

    wl = _workload(args.workload)
    info = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "settings": harness.settings()}
    probe_pre = harness.probe_host()
    t0 = time.perf_counter()
    exp = _expected(args.workload, args.seed, bool(args.trace))
    info["oracle_s"] = time.perf_counter() - t0

    with harness.work_dir(os.path.join(ROOT, ".perfbench_work")) as work, \
            harness.MemSampler() as mem:
        t0 = time.perf_counter()
        spark = harness.start_spark(work)
        session_s = time.perf_counter() - t0
        try:
            state = wl.setup(spark, work, args.seed, exp)
            trace = harness.SparkTrace(spark, enabled=bool(args.trace))
            out = wl.run(spark, work, args.seed, args.seconds, trace, exp, state)
        finally:
            harness.stop_spark(spark)
    probe_post = harness.probe_host()

    values = out["values"]
    values["setup_s"] = session_s + harness.median(state["rep_walls"]) + state["extra_s"]
    values["peak_pss_mb"] = mem.peak_mb
    values["host.probe_pre_s"] = probe_pre
    values["host.probe_post_s"] = probe_post
    info.update(out["info"])
    info.update({
        "session_s": session_s,
        "setup_rep_walls_s": state["rep_walls"],
        "setup_extra_s": state["extra_s"],
        "warm_s": state.get("warm_s"),
        "host_probe_pre_s": probe_pre,
        "host_probe_post_s": probe_post,
    })
    res = metrics.result(
        correct=out["failed"] == 0,
        attempted=out["attempted"],
        failed=out["failed"],
        values=values,
        traced=bool(args.trace),
    )
    return info, res


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "blacklab_spark")):
        print(f"perfbench: no blacklab_spark package under {ROOT}", file=sys.stderr)
        return 2
    # Spark's Python workers import the package whatever the caller's cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    import harness

    # every process the run starts, orphans of the JVM included, ends
    # before the run does, on every path out
    harness.become_subreaper()
    try:
        info, res = measure(args)
    finally:
        harness.reap_descendants()
    print(json.dumps({"perfbench": info}, default=str))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
