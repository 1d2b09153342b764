"""Per-round driver action budget (VERDICT r3 #1: every Spark job a round
submits is serial driver latency — Amdahl tax at 1000 executors).

Pins the number of jobs one calm scheduler round submits, via the
DAGScheduler's global job-id counter (thread-safe: pooled writes count too,
unlike job-group tracking which is thread-local). The pin is a regression
tripwire: adding an action to the round path must consciously raise it.

Also locks in the calm-round write skip: a round in which no host crosses
the salt threshold must NOT create heavy_hosts_frontier/round=R+1 (the
empty-table write job + commit was pure per-round overhead).
"""

from __future__ import annotations

import pytest

from fixtures.gen import TINY, fixture_bundle
from indigo_crawler_spark.config import CrawlConfig
from indigo_crawler_spark.plans.round import CrawlState, bootstrap, run_round
from indigo_crawler_spark.sources.fixture_df import (
    budgets_df,
    pages_df,
    robots_df,
    seeds_df,
)
from indigo_crawler_spark.sources.table_io import TableIO

# jobs a steady-state round may submit (measured 36 on local[4] at the r5
# round shape — down from 43 after the serial prefix went AQE-free, see
# plans/round.py::_no_aqe; AQE re-planning still makes several physical jobs
# per logical action on the AQE-on remainder, so this bounds the *product*
# of actions x AQE stages — a faithful tripwire for "a new driver action
# slipped into the round path". The constant is calibrated on this repo's
# test session (local[4], AQE on); it is a regression tripwire, not a
# portability contract.
MAX_ROUND_JOBS = 40


def _job_counter(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    """Bootstrapped state with round 0 already run and round 1 run inside a
    job-counter window — both tests below read from this, so each is
    meaningful standalone."""
    cfg = CrawlConfig(round_limit=50, num_buckets=16)
    fb = fixture_bundle(**TINY)
    st = CrawlState(io=TableIO(spark, str(tmp_path_factory.mktemp("jobs"))), cfg=cfg)
    bootstrap(
        spark,
        pages_df(spark, fb["pages"]),
        seeds_df(spark, fb["seeds"]),
        robots_df(spark, fb["robots"]),
        budgets_df(spark, fb["host_budgets"]),
        st,
    )
    run_round(spark, st, 0)  # warm: round 1 is the steady-state shape
    before = _job_counter(spark)
    run_round(spark, st, 1)
    st.round1_jobs = _job_counter(spark) - before
    return st


def test_round_job_count_pinned(state):
    jobs = state.round1_jobs
    print(f"round 1 submitted {jobs} Spark jobs")
    assert jobs <= MAX_ROUND_JOBS, (
        f"round submitted {jobs} jobs > pinned {MAX_ROUND_JOBS}: a new driver "
        "action entered the round path — every one is serial latency at scale"
    )


def test_calm_round_skips_heavy_frontier_write(state):
    # TINY has no host near the default salt_threshold=10_000
    for r in (0, 1):
        m = state.io.read_manifest(f"round_{r:05d}")
        assert m["counters"]["frontier_heavy_hosts_next"] == 0
        assert not state.io.exists(f"heavy_hosts_frontier/round={r + 1}")


def test_small_round_leaves_unset_shuffle_partitions_unset(spark, state):
    # a small round lowers spark.sql.shuffle.partitions for its own plans;
    # when the session never set the key, the round must unset it again
    # rather than leave every later (at-scale) round at the small value
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key, None)
    spark.conf.unset(key)
    try:
        run_round(spark, state, 2)
        assert spark.conf.get(key, None) is None
    finally:
        if prev is not None:
            spark.conf.set(key, prev)
