"""relation-graph-spark benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload batch_hub --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Workloads (see perfbench/README.md):

  batch_hub      hub-skewed ontology: driver-path closure, R3, bulk write
  stream_deltas  streaming engine: bootstrap, then steady micro-batches

Every operation's output is checked against an independent DuckDB
computation (perfbench/oracle.py). The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it records
the host and the effective configuration. Exits non-zero, without a result
line, when the engine package is missing or a run cannot complete; a failed
correctness check prints the result with "correct": false and exits 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

# no engine import happens here: RGS_* knobs are read when the engine is
# imported, which is after _pin_environment
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _pin_environment(work: str, cpus: int | None) -> dict:
    """Unset every RGS_* knob (several are read at import time), size the
    driver to the host, and keep every scratch write inside `work`."""
    dropped = sorted(k for k in os.environ if k.startswith("RGS_"))
    for k in dropped:
        del os.environ[k]
    nproc = cpus or len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "4g"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    return {"nproc": nproc, "rgs_unset": dropped, "driver_mem": "4g"}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.RUNNERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=None,
                    help="local[N] and shuffle partitions (default: every CPU "
                         "this process may use); 1 gives the single-thread baseline")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "relation_graph_spark", "__init__.py")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    env = _pin_environment(work, args.cpus)
    try:
        res = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace),
                            work, env)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    print(json.dumps({"info": res["info"]}, sort_keys=True))
    print(json.dumps({
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": res["metrics"],
    }))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
