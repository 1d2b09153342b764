"""Tests of the benchmark's own helpers: timing statistics, span self time,
the status-store reader, the py4j and TableIO counters, and the seeded
input generator.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, trace  # noqa: E402

# ---------------------------------------------------------------- statistics


def test_median_n_reports_the_sample_count():
    assert trace.median_n([5.0, 1.0, 4.0]) == (4.0, 3)
    assert trace.median_n([2.0, 1.0, 4.0, 3.0]) == (2.5, 4)
    with pytest.raises(ValueError):
        trace.median_n([])


# ---------------------------------------------------------------- spans


def test_covered_merges_overlaps_and_clips():
    assert trace.covered([(1, 3), (2, 4), (6, 7)], 0, 10) == 4
    assert trace.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert trace.covered([], 0, 10) == 0
    assert trace.covered([(4, 3)], 0, 10) == 0


def test_self_time_subtracts_children_union():
    t = trace.Tracer()
    parent = t.add("round", 0.0, 10.0, None)
    t.add("job", 1.0, 4.0, parent.sid)
    t.add("job", 3.0, 5.0, parent.sid)  # overlaps the first job
    child = t.add("write", 6.0, 8.0, parent.sid)
    t.add("job", 6.5, 7.0, child.sid)  # grandchild: not the parent's child
    assert t.self_time(parent.sid) == pytest.approx(10 - 4 - 2)
    assert t.self_time(child.sid) == pytest.approx(1.5)
    assert t.self_times()["round"] == pytest.approx(4.0)


def test_span_context_nests_and_closes():
    t = trace.Tracer()
    with t.span("outer") as o:
        with t.span("inner", k=1) as i:
            pass
    assert i.parent == o.sid and o.parent is None
    assert o.end is not None and i.end is not None and i.attrs == {"k": 1}
    assert [d["name"] for d in t.dump()] == ["outer", "inner"]


# ---------------------------------------------------------------- generator


def test_seed_42_reproduces_the_legacy_corpus():
    from fixtures.gen import PagesSpec, gen_robots
    from fixtures.gen import h as legacy_h
    from indigo_crawler_spark.kernels.keys import host_hash

    legacy = PagesSpec(5000, 200)
    mine = gen.SeededPages(5000, 200, 42)
    ids = list(range(300)) + [91, 143, 1001, 4999]
    want = legacy.rows_batch(ids)
    got = mine.rows(ids)
    for k in want:
        assert got[k] == want[k], k
    assert mine.robots() == [
        (r["host"], r["host_hash"], r["robots_txt"], r["fetched_ts"])
        for r in gen_robots(200)
    ]
    # sources/synthetic.budgets_df rules: top 5% of hosts in Zipf rank order
    assert mine.budgets() == [
        (f"h{k + 1}.example.org", host_hash(f"h{k + 1}.example.org"),
         2 + legacy_h("bud", k) % 7, 2 if k % 9 == 8 else 0)
        for k in range(10)
    ]
    # sources/synthetic.seeds_df small path: first n distinct page urls
    seen, want_seeds, i = set(), [], 0
    while len(want_seeds) < 120:
        u = legacy.url(i)
        if u not in seen:
            seen.add(u)
            want_seeds.append((u, len(want_seeds)))
        i += 1
    assert mine.seeds(120) == want_seeds


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path):
    import pyarrow.parquet as pq

    def written(seed, sub):
        dirs = gen.write_inputs(str(tmp_path / sub), 600, 40, 30, seed)
        return {t: pq.read_table(d).to_pylist() for t, d in dirs.items()}

    a, b, c = written(7, "a"), written(7, "b"), written(8, "c")
    assert a == b
    for t in ("pages", "seeds", "robots"):
        assert a[t] != c[t], t
    assert len(a["pages"]) == 600 and len(a["seeds"]) == 30


def test_distributed_seed_rule_and_part_split(tmp_path):
    import pyarrow.parquet as pq

    n_seeds = gen.DISTRIBUTED_SEEDS + 5
    dirs, tasks = gen.input_tasks(str(tmp_path), 300, 20, n_seeds, 3, rows_per_part=40_000)
    seed_tasks = [t for t in tasks if t[0] in ("seeds", "seed_list")]
    assert [(t[0], t[5], t[6]) for t in seed_tasks] == [
        ("seeds", 0, 40_000), ("seeds", 40_000, 80_000), ("seeds", 80_000, n_seeds)
    ]
    spec = gen.SeededPages(300, 20, 3)
    # seed i is the url of page row i, duplicates included, in every part
    for task in (seed_tasks[0], seed_tasks[-1]):
        assert gen.write_part(task) == task[6] - task[5]
        rows = pq.read_table(task[1]).to_pylist()
        assert rows[:3] == [
            {"url": u, "seed_rank": task[5] + k}
            for k, u in enumerate(spec.urls(range(task[5], task[5] + 3)))
        ]
    urls = [r["url"] for r in pq.read_table(seed_tasks[0][1]).to_pylist()]
    assert len(set(urls)) < len(urls)  # 20 hosts: raw duplicates are kept
    # more seeds than pages also takes the row rule: seeds past the corpus
    assert gen.seed_rule(300, 400) == "rows" and gen.seed_rule(300, 200) == "distinct"
    assert spec.seeds(400)[350] == (spec.urls([350])[0], 350)


# ---------------------------------------------------------------- Spark-side


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedStages", "3")
        .config("spark.ui.retainedJobs", "3")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.local.dir", str(tmp_path_factory.mktemp("spark-local")))
        .getOrCreate()
    )
    yield s
    s.stop()


def test_status_reader_attributes_jobs_to_the_call(spark):
    reader = trace.StatusReader(spark)
    spark.range(10).collect()  # someone else's job
    reader.mark()
    spark.range(1000, numPartitions=2).selectExpr("id % 7 as k").groupBy("k").count().collect()
    got = reader.read()
    assert got["jobs"] >= 1 and got["stages"] >= 2
    assert got["tasks"] >= 2 + 2  # two map tasks, two reduce tasks
    assert got["shuffleWriteBytes"] > 0 and got["executorRunTime"] >= 0
    assert len(got["intervals"]) == got["jobs"]
    assert reader.read()["jobs"] == 0  # nothing new since


def test_status_reader_must_read_after_each_call(spark):
    """With spark.ui.retainedStages=3 the store drops old stages: reading
    after every call sees them all, reading once at the end does not."""
    query = lambda: (  # noqa: E731
        spark.range(400, numPartitions=2).selectExpr("id % 5 as k").groupBy("k").count().collect()
    )
    eager = trace.StatusReader(spark)
    eager.mark()
    for _ in range(4):
        query()
        eager.read()
    assert eager.missing_stages == 0
    late = trace.StatusReader(spark)
    late.next_job = eager.next_job
    for _ in range(4):
        query()
    got = late.read()
    assert late.missing_stages > 0 or got["jobs"] < 4


def test_py4j_counter_counts_and_uninstalls(spark):
    c = trace.Py4jCounter(spark)
    c.install()
    spark.sparkContext._jsc.sc().applicationId()
    c.uninstall()
    n = c.calls
    assert n >= 1
    spark.sparkContext._jsc.sc().applicationId()
    assert c.calls == n


def test_table_io_counter_wraps_one_instance(spark, tmp_path):
    from indigo_crawler_spark.sources.table_io import TableIO

    io = TableIO(spark, str(tmp_path / "state"))
    other = TableIO(spark, str(tmp_path / "other"))
    counter = trace.TableIOCounter()
    trace.count_table_io(io, counter)
    io.write(spark.range(3).toDF("pk"), "t")
    io.exists("t")
    io.read_manifest("none")
    other.exists("t")
    trace.uncount_table_io(io)
    io.exists("t")
    calls, secs = counter.snapshot()
    assert calls == {"write": 1, "exists": 1, "read_manifest": 1}
    assert secs["write"] > 0
