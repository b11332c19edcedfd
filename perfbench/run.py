#!/usr/bin/env python3
"""Benchmark of the vicinity_spark library, run from the repository root:

    python3 perfbench/run.py --workload knn_exact --seed 1 --seconds 10 --trace 0

Workloads: knn_exact, ivf_mutate, curate (see NOTES.md). ``--trace 0``
prints the end-to-end metrics; ``--trace 1`` runs with the Spark event
log on and spans around library calls, and prints per-layer metrics.
The last line of standard output is the result object; the line before
it is a summary, and the full report goes to ``perfbench/out/``.

Everything the run writes stays under ``perfbench/out/``. The library
is imported from the directory this script sits in; without it the run
exits with code 2 and prints no result.
"""

from __future__ import annotations

import argparse
import os
import shlex
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORKLOADS = ("knn_exact", "ivf_mutate", "curate")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "vicinity_spark", "__init__.py")):
        print(f"perfbench: no vicinity_spark package in {ROOT}", file=sys.stderr)
        return 2
    workdir = os.path.join(OUT, f"run-{os.getpid()}")
    tmp = os.path.join(workdir, "tmp")
    local = os.path.join(workdir, "spark-local")
    events = os.path.join(workdir, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    # launch-time settings only: the library's session factory is unchanged
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # no JVM performance-data file in the system temp directory
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(workdir, 'warehouse')}",
        "--driver-java-options", f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    ]
    if args.trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in submit) + " pyspark-shell"
    sys.path.insert(1, ROOT)
    try:
        import harness
    except ImportError:  # the library is there but does not import: a failed run
        import shutil
        import traceback

        traceback.print_exc()
        shutil.rmtree(workdir, ignore_errors=True)
        print('{"correct": false, "attempted": 1, "failed": 1, "metrics": {}}', flush=True)
        return 1
    return harness.execute(args, OUT, workdir, events if args.trace else None)


if __name__ == "__main__":
    sys.exit(main())
