"""Seeded benchmark for the engine: one workload per run.

    python3 perfbench/run.py --workload nfl_pressure --seed 1 \\
        --seconds 4 --trace 0

Run from the repository root. The last stdout line is the result
object ``{"correct", "attempted", "failed", "metrics"}``; the line
before it is a compact report (set-up breakdown, input properties,
latencies, tail, peak RSS, failed_frac). Everything the run writes
goes under ``.perfbench_tmp/`` (removed at exit) and
``.perfbench_out/`` (the full report with spans) in the current
directory. See README.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "big_data_bowl___2023_spark"
# Spark task slots, fixed so runs compare across machines. Two slots
# leave the rest of a 4-vCPU host to the driver thread, JIT compiler
# and GC: these latency-bound workloads ran as fast as with four and
# with less run-to-run spread.
TASK_SLOTS = "2"


def parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["nfl_pressure", "stream_ingest",
                            "serve_hybrid"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def _terminate(signum, frame):
    # a terminated run still removes its temp root and stops its JVM
    sys.exit(128 + signum)


def main(argv: list[str]) -> int:
    args = parse(argv)
    signal.signal(signal.SIGTERM, _terminate)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {root}; run from "
              f"the repository root", file=sys.stderr)
        return 2
    base = os.path.join(root, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp_root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    # every temp file of this process, its Python workers and the
    # engine's own mkdtemp calls lands under tmp_root
    os.environ["TMPDIR"] = tmp_root
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp_root, "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = TASK_SLOTS
    sys.path[:0] = [root, HERE]
    try:
        import harness
        from workloads import WORKLOADS

        out = harness.run(WORKLOADS[args.workload], args.seed,
                          args.seconds, bool(args.trace), tmp_root)
        harness.emit(out, os.path.join(root, ".perfbench_out"))
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass          # another run still owns a temp root
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
