"""The run's output: a readable metric table, the full record on disk, and
the one-line JSON result that ends every run."""

from __future__ import annotations

import json
import os
import sys


def emit(spec: dict, res: dict, traced: bool, out_dir: str) -> dict:
    """Print the table, write the record, return the result line."""
    wanted = spec["per_layer" if traced else "end_to_end"]
    got = res.get("per_layer" if traced else "metrics", {})
    metrics, missing = {}, []
    for m in wanted:
        if m["name"] in got:
            metrics[m["name"]] = {"value": got[m["name"]], "unit": m["unit"]}
        else:
            missing.append(m["name"])
    correct = res["failed"] == 0 and not missing and "aborted" not in res
    env = res["environment"]
    print(f"# {env['workload']} seed={env['seed']} trace={env['trace']} "
          f"local[{env['cpus']}] driver={env['driver_mem_mb']}MB "
          f"nproc={env['nproc']} ram={env['ram_mb']}MB spark={env['spark']} "
          f"python={env['python']}")
    samples = res.get("samples", {})
    for name, m in metrics.items():
        n = ""
        if name in ("round_s.p50", "urls_scheduled_per_s"):
            n = f"  (n={samples['round_s']} rounds)"
        elif name == "resume_s":
            n = f"  (n={samples['resume_s']} resumes)"
        elif name == "retire_s.p50":
            n = f"  (n={samples['retire_s']} batches)"
        print(f"  {name:<40} {m['value']:>16.6g} {m['unit']}{n}")
    share = res["failed"] / res["attempted"] if res["attempted"] else 1.0
    print(f"  {'ops_failed_share':<40} {share:>16.6g} share "
          f"({res['failed']} of {res['attempted']} operations)")
    for x in res.get("rounds", []):
        print("# round {round} (repeat {repeat}): {wall_s:.3f}s, {emitted} urls, frontier "
              "{frontier_rows} rows -> {plan} plan".format(**x))
    if "oracle" in res:
        print(f"# checks: warm-up vs oracle {res['oracle']}; timed rounds vs "
              f"recorded reference: {res['reference']}; fsck after gc")
    if "aborted" in res:
        print(f"# aborted at: {res['aborted']}; failures: {res['failures']}")
    for row in res.get("coverage", []):
        print(
            "# traced round {round}: wall {wall_s:.3f}s = spark jobs (operators.*) "
            "{spark_jobs_s:.3f}s + driver self (plans.round) {driver_self_s:.3f}s; "
            "table_io calls {table_io_s:.3f}s, phase sum {phase_sum_s:.3f}s".format(**row)
        )
    if "self_times" in res:
        print("# self time by span (s): " + ", ".join(
            f"{k} {v:.3f}" for k, v in sorted(res["self_times"].items())
        ) + f"; stages evicted before read: {res['status_missing_stages']}")
    for m in missing:
        print(f"# missing metric: {m}", file=sys.stderr)
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(
        out_dir, f"{env['workload']}-seed{env['seed']}-trace{env['trace']}.json"
    )
    with open(path, "w") as f:
        json.dump(res, f, indent=1, default=str)
    return {
        "correct": correct,
        "attempted": max(1, res["attempted"]),
        "failed": res["failed"] if res["attempted"] else 1,
        "metrics": metrics,
    }
