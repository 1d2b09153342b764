"""The benchmark's workloads: input shape, crawl config and why each exists.

Both workloads run the same operator lifecycle (``harness.run_workload``):
bootstrap, the workload's fixed number of scheduler rounds, resume, ``gc_state``
and ``fsck``; the traced run adds a churn tail (``retire_urls`` batches, an
``inject_seeds`` batch and the round that consumes it, an incremental
``export_corpus``). What differs is the input shape, and the shape alone
picks the engine's plan path; no ``SPARK_GRAFT_*`` plan knob is ever set.

See ``perfbench/README.md`` for the layer -> metric -> workload map.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# the engine's own small-round threshold (plans/round.py _rank_single_max):
# a round whose committed frontier bound is at most this many rows runs the
# small-round plan (AQE off, 8 shuffle partitions, single-partition rank)
SMALL_ROUND_MAX_ROWS = 200_000
WARM_ROWS = 1_000
RETIRE_BATCHES = 3


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    # "small" or "at-scale": the plan every timed round must take, by shape
    # (README.md says which engine paths each one runs)
    plan: str
    n_rows: int
    n_hosts: int
    n_seeds: int
    # the timed rounds of every run: a fixed count, never the clock's, so
    # every run measures the same rounds and the same committed state
    rounds: int
    cfg: dict = field(default_factory=dict)
    # times the round sequence is timed, each from the bootstrapped state:
    # more samples of a round too long to time more than once in sequence
    repeats: int = 1
    # rounds of the scaled-down copy crawled during set-up
    warm_rounds: int = 1
    # the traced run's churn tail: RETIRE_BATCHES batches of retire_size urls
    retire_size: int = 40
    inject_size: int = 400

    # the scaled-down copy (JIT warm-up + oracle check) has WARM_ROWS pages,
    # with hosts and seeds in the workload's proportions
    @property
    def warm_hosts(self) -> int:
        return self.n_hosts * WARM_ROWS // self.n_rows

    @property
    def warm_seeds(self) -> int:
        return self.n_seeds * WARM_ROWS // self.n_rows


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="steady",
            why=(
                "months-long polite steady state: small rounds whose wall is "
                "driver-serial (jobs, py4j calls, table commits), not data"
            ),
            plan="small",
            # the legacy long-horizon shape of bench.py (30k pages, 1,500
            # hosts) with 5x its 600 seeds, so round 0 already schedules the
            # full round_limit and every round does the same amount of work
            n_rows=30_000,
            n_hosts=1_500,
            n_seeds=3_000,
            # one seen-compaction cycle: round 2 compacts
            rounds=3,
            cfg=dict(
                round_limit=500,
                num_buckets=32,
                seen_compact_every=3,
                ban_every=97,
                backoff_rounds=2,
                filter_kind="bloom",
            ),
        ),
        Workload(
            name="wide",
            why=(
                "bulk bootstrap plus a data-bound round: a 240k-seed frontier "
                "over 10k Zipf hosts puts round 0 on the at-scale plan"
            ),
            plan="at-scale",
            # seed i is the url of page row i (sources/synthetic.py rules);
            # seeds past row 100,000 point at pages the corpus does not hold,
            # which fetch nothing (SEMANTICS.md, round step 6). The round-0
            # frontier holds ~238k rows, above the small-round threshold for
            # every seed; robots then drop 30-45% of it (more when they deny
            # the Zipf head host), so round 1 can fall below the threshold
            # and take the small-round plan: only round 0 is timed, twice.
            n_rows=100_000,
            n_hosts=10_000,
            n_seeds=240_000,
            rounds=1,
            repeats=2,
            cfg=dict(
                round_limit=20_000,
                num_buckets=64,
                ban_every=97,
                backoff_rounds=2,
                filter_kind="cuckoo",
            ),
            retire_size=200,
            inject_size=2_000,
        ),
    )
}
