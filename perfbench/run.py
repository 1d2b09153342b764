"""Benchmark entry point: one run of one workload, one JSON result line.

    python3 perfbench/run.py --workload steady --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout of the repository. The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end metrics of ``BENCHMARK.json``,
with ``--trace 1`` its per-layer metrics. The lines before it list every
metric with its unit and sample count, the machine and the checks. The full
record of the run (rounds, spans, coverage) is written to
``.perfbench_out/``. It exits non-zero, printing no result, when the engine
is not beside it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for pkg in ("indigo_crawler_spark", "oracle", "fixtures"):
        if not os.path.isfile(os.path.join(ROOT, pkg, "__init__.py")):
            print(f"error: {pkg}/ is not in {ROOT}; run from a checkout of "
                  "the repository", file=sys.stderr)
            return 2
    # the engine picks its plan paths from input shape; an inherited plan
    # knob would override that, so none may reach the run
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    from perfbench import report
    from perfbench.harness import run_workload
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, ".perfbench_out")
    res = run_workload(WORKLOADS[args.workload], args.seed, args.seconds,
                       bool(args.trace), ROOT, out_dir)
    line = report.emit(spec, res, bool(args.trace), out_dir)
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
