"""Record the per-round reference that benchmark runs check their output
against, and cross-check it once.

    python3 perfbench/record.py --workload steady --seeds 1-10
    python3 perfbench/record.py --oracle            # scaled-down copies vs oracle
    python3 perfbench/record.py --gates             # ROADMAP seed-42 gates

For each seed it runs bootstrap and the workload's ``rounds`` rounds and
stores ``[emitted, seen digest key, frontier_next digest key]`` per round in
``perfbench/reference.json`` (untimed). ``--oracle`` crawls a scaled-down
copy of every workload for ``ORACLE_ROUNDS`` rounds and compares each
round's ordering with ``oracle.simulator.OracleCrawl``. ``--gates`` runs
``bench.py``'s long-horizon block (the shape ``steady`` starts from, with
600 seeds) for 24 rounds with the generator at seed 42 and checks ROADMAP's
totals: 7407 URLs with the bloom filter, 7420 with the cuckoo filter and a
retire batch every 6 rounds.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ORACLE_ROUNDS = 4
LEGACY_GATES = {"bloom": 7407, "cuckoo": 7420}
# bench.py's long-horizon block: its corpus, seeds and crawl config
LEGACY_SHAPE = dict(rows=30_000, hosts=1_500, seeds=600)
LEGACY_CFG = dict(round_limit=500, num_buckets=32, seen_compact_every=8,
                  ban_every=97, backoff_rounds=2)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def crawl(spark, work, seed, rows, hosts, seeds, n_rounds, cfg, retire_every=0):
    """Bootstrap + *n_rounds* rounds of one input shape; returns the state
    and the round payloads."""
    from indigo_crawler_spark.operators.retire import retire_urls
    from indigo_crawler_spark.plans.round import CrawlState, bootstrap, run_round
    from indigo_crawler_spark.sources.table_io import TableIO
    from perfbench import gen, harness

    paths = gen.write_inputs(os.path.join(work, "inputs"), rows, hosts, seeds, seed)
    state = CrawlState(io=TableIO(spark, os.path.join(work, "state")), cfg=cfg)
    bootstrap(spark, *harness.read_inputs(spark, paths), state, with_counters=False)
    payloads = []
    for r in range(n_rounds):
        payloads.append(run_round(spark, state, r, with_counters=False))
        # bench.py's long-horizon retire schedule: after round 1, then every
        # retire_every rounds, the 40 top-ranked urls of that round
        if retire_every and r >= 1 and (r - 1) % retire_every == 0:
            urls = harness.sample_urls(state.io, r, 0, 41)
            retire_urls(state, harness.url_frame(spark, urls[:40]))
    return state, payloads


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--seeds", type=seeds_arg, default=[])
    ap.add_argument("--oracle", action="store_true")
    ap.add_argument("--gates", action="store_true")
    args = ap.parse_args(argv)
    os.environ["PYTHONPATH"] = ROOT
    sys.path.insert(0, ROOT)
    from dataclasses import replace

    from indigo_crawler_spark.config import CrawlConfig
    from perfbench import harness
    from perfbench.workloads import WORKLOADS

    session_dir = harness.new_work_dir(ROOT, "record-")
    work_base = os.path.dirname(session_dir)
    size = harness.sizing(harness.machine())
    spark = harness.build_spark(session_dir, size["cpus"], size["driver_mem_mb"])
    ok = True
    try:
        ref = {}
        if os.path.exists(harness.REFERENCE):
            with open(harness.REFERENCE) as f:
                ref = json.load(f)
        for name in args.workload:
            w = WORKLOADS[name]
            for seed in args.seeds:
                work = tempfile.mkdtemp(dir=work_base)
                try:
                    state, payloads = crawl(
                        spark, work, seed, w.n_rows, w.n_hosts, w.n_seeds,
                        w.rounds, CrawlConfig(**w.cfg),
                    )
                    recs = [harness.round_record(state.io, r, p)
                            for r, p in enumerate(payloads)]
                finally:
                    shutil.rmtree(work, ignore_errors=True)
                ref.setdefault(name, {})[str(seed)] = recs
                print(f"{name} seed {seed}: emitted {[x[0] for x in recs]}", flush=True)
                with open(harness.REFERENCE, "w") as f:
                    json.dump(ref, f, indent=0, sort_keys=True)
                    f.write("\n")
        if args.oracle:
            for w in WORKLOADS.values():
                for seed in args.seeds or [1]:
                    w_long = replace(w, warm_rounds=ORACLE_ROUNDS)
                    ops = harness.Ops()
                    work = tempfile.mkdtemp(dir=work_base)
                    try:
                        got = harness.warm_up(spark, w_long, seed, work, ops)
                    finally:
                        shutil.rmtree(work, ignore_errors=True)
                    ok &= ops.failed == 0
                    print(f"oracle {w.name} seed {seed}: {got}", flush=True)
        if args.gates:
            for kind, want in LEGACY_GATES.items():
                cfg = CrawlConfig(**LEGACY_CFG, filter_kind=kind)
                work = tempfile.mkdtemp(dir=work_base)
                try:
                    _, payloads = crawl(
                        spark, work, 42, *LEGACY_SHAPE.values(), 24, cfg,
                        retire_every=6 if kind == "cuckoo" else 0,
                    )
                finally:
                    shutil.rmtree(work, ignore_errors=True)
                got = sum(p["counters"]["emitted"] for p in payloads)
                ok &= got == want
                print(f"gate {kind}: {got} urls over 24 rounds (ROADMAP: {want})", flush=True)
    finally:
        harness.stop_spark(spark)
        shutil.rmtree(session_dir, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
