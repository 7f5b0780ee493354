"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_suite --seed 1 --seconds 15 \
        --trace 0

Run from the repository root. Prints one report line with every named
end-to-end figure (units included) and the run stamp, then, as the last
line of stdout, the result object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (end-to-end metrics, or per-layer metrics with
``--trace 1``). ``--smoke`` runs a tiny input for the harness's own test.
Everything the run writes stays under ``.perfbench/`` in the root.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_suite", "corpus_reference", "microbatch_ingest",
             "assert_api")


def parse(argv=None):
    p = argparse.ArgumentParser(prog="perfbench")
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="tiny inputs: checks the harness, not performance")
    return p.parse_args(argv)


def configure_env(heap_mb):
    """Process environment that must exist before the JVM starts: driver
    heap, scratch space inside the root, and an importable package for
    the Python workers."""
    tmp = os.path.join(ROOT, ".perfbench", "tmp", str(os.getpid()))
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = "{0}m".format(heap_mb)
    os.environ["TMPDIR"] = tmp
    # the launcher JVM that spark-submit starts before the driver
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir={0}".format(tmp))
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])


def _unit(name):
    for suffix, unit in (("_pct", "%"), ("_samples", "count"), ("_mb", "MB"),
                         ("_per_s", "1/s"), ("_frac", "ratio"), ("_s", "s")):
        if name.endswith(suffix):
            return unit
    return ""


def main(argv=None) -> int:
    args = parse(argv)
    sys.path.insert(0, ROOT)
    from perfbench.common import heap_mb

    try:
        import datatest_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print("perfbench: cannot import datatest_spark from {0}: {1}".format(
            ROOT, e), file=sys.stderr)
        return 2
    heap = 1024 if args.smoke else heap_mb()
    configure_env(heap)
    from perfbench.workloads import Bench

    bench = Bench(ROOT, args.workload, args.seed, args.seconds,
                  bool(args.trace), heap, smoke=args.smoke)
    result = bench.run()
    for name, errs in bench.errors:
        print("perfbench: {0} failed: {1}".format(name, "; ".join(errs)[:2000]),
              file=sys.stderr)
    report = dict(bench.report, workload=args.workload, seed=args.seed,
                  trace=args.trace,
                  units={k: _unit(k) for k in bench.report})
    print(json.dumps({"report": report, "stamp": bench.stamp}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
