"""Benchmark of the KG job: one workload per invocation, as a closed loop.

Run from the root of a checkout:

    python3 perfbench/run.py --workload job_full --seed 7 --seconds 1 --trace 0

One driver runs one job at a time on ``local[4]``.  A run starts Spark and
its Python workers, builds its seeded inputs three times (``setup_s`` takes
the median), repeats the workload until ``--seconds`` have passed (at
least once) and checks every iteration's output.  With ``--trace 0`` it
reports the end-to-end metrics; with ``--trace 1`` the iterations are
traced and it reports the per-layer metrics.  Besides summary lines
starting with ``#``, the last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Outside a
checkout (no ``json_ld_spark`` package beside ``perfbench``) it exits
with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=int, default=1,
                   help="multiply the workload's documents and entities (one-off "
                        "runs at a larger shape; the benchmark uses 1)")
    p.add_argument("--buckets", type=int, default=None,
                   help="the job's output buckets (default: the workload's)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "json_ld_spark" / "__init__.py").is_file():
        print(f"perfbench: no json_ld_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = HERE / "_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # every file Spark, the JVMs and the Python workers write, temporary
    # ones included, stays under ``work``
    os.environ.update(
        PYTHONPATH=os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        ),
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
    )
    sys.path.insert(0, str(ROOT))
    try:
        import harness

        if args.workload not in harness.workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; choose from "
                  f"{sorted(harness.workloads.WORKLOADS)}", file=sys.stderr)
            return 2
        os.environ.update(
            SPARK_GRAFT_CPUS=str(harness.CORES), SPARK_DRIVER_MEM=harness.DRIVER_MEM
        )
        out = harness.Bench(args, work).run()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
