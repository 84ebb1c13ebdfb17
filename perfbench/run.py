#!/usr/bin/env python3
"""Crawl-loop benchmark for ``delphi_crawler_spark``.

    python3 perfbench/run.py --workload wide_frontier --seed 1 --seconds 30 --trace 0
    python3 perfbench/run.py --smoke [--trace 1]

Run from the root of a source tree that holds ``delphi_crawler_spark``. It
builds a ``local[nproc/2]`` session, writes the workload's inputs from the
seed, drives ``CrawlEngine`` through closed-loop episodes for ``--seconds``,
checks every episode against ``plans.oracle.run_oracle``, and prints one
JSON object as the last line of standard output: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``. ``--smoke``
runs every workload at a tiny size in one session instead.

Everything it writes stays under ``.perfbench_work/`` (removed at exit) and
``.perfbench_out/`` (span dumps of traced runs) in the source tree.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")


def parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload at a tiny size, one episode each")
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    return args


def configure_env() -> None:
    """Keep every file the JVM, Spark and Python workers write inside the
    work directory, and let the Python workers import the package."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the JVM spark-submit starts first to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    sys.path.insert(0, ROOT)


def main(argv: list[str] | None = None) -> int:
    args = parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "delphi_crawler_spark", "plans", "crawl_round.py")):
        print(f"perfbench: no delphi_crawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    configure_env()
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    if not args.smoke and args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    try:
        result, info = harness.run(args, WORK, OUT)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({"info": info}, sort_keys=True))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
